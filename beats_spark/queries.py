"""Query registry: every implemented operator exposed as a (Spark query,
DuckDB oracle SQL) pair for the driver's correctness harness.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame; the oracle
is ANSI/DuckDB SQL over the same parquet views (``events documents embeddings``
etc. are pre-registered). Both sides share single sources of truth:

- the transcript derivation (`beats_spark.data.transcripts.transcripts_select`)
  is dialect-portable SQL;
- grok/dissect pattern banks compile to ONE regex reused verbatim in the
  DuckDB oracle (`grok_extract_sql`) — RE2 and Python `re` agree on the
  pattern subset we emit (no lookaround, no backrefs);
- the condition DSL renders to SQL via `beats_spark.conditions.condition_sql`;
- lookup tables render to VALUES clauses (`beats_spark.data.lookups`);
- text units (tokens, word n-grams, normalized text, char shingles) come
  from their DuckDB twins in `textops` and `dedup` (`tokens_sql`,
  `word_ngrams_sql`, `normalize_text_sql`, `shingles_sql`).

Output hygiene for value-hash comparison: no raw TIMESTAMP columns (rendered
to ISO strings on both sides), sums cast to BIGINT (DuckDB sums int→HUGEINT),
every computed column aliased identically on both sides.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from beats_spark import dedup as D
from beats_spark import packing as PK
from beats_spark import sampling as SM
from beats_spark import similarity as SIM
from beats_spark import textops as X
from beats_spark.conditions import condition_sql, sql_str
from beats_spark.data import lookups as L
from beats_spark.data.transcripts import load_transcripts, oracle_cte
from beats_spark.grok import Grok, GrokBank
from beats_spark.operators import enrich as E
from beats_spark.operators import filter as FL
from beats_spark.operators.parse import convert_sql
from beats_spark.pipeline import (
    IS_TOOL_CALL,
    ROUTING_RULES,
    TOOL_CALL_FLAG,
    TRANSCRIPT_PATTERNS,
    conv_rollups,
    enrich_stage,
    full_pipeline,
    parse_stage,
    sink_aggregates,
)
from beats_spark.routing import DEAD_LETTER, selector_sql
from beats_spark.scale import widen_scan

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# shared SQL fragments
# --------------------------------------------------------------------------

ISO = "strftime({col}, '%Y-%m-%dT%H:%M:%S')"  # DuckDB ISO-second render


def grok_extract_sql(expr: str, text_col: str = "text") -> dict[str, str]:
    """Compile a grok expression and render each output field as a DuckDB
    regexp_extract fragment over the expression's own compiled regex (the
    Spark pandas UDF runs it as one alternative of its bank's combined
    regex, `GrokBank`). A typed field goes through `convert_sql`, the
    DuckDB twin of the `convert_col` the Spark side casts with, so a
    capture the convert lattice cannot read is NULL on both. Returns
    {field_name: sql_fragment}."""
    g = Grok(expr)
    pat = g.pattern.pattern
    idx = g.pattern.groupindex  # gname -> capture group number
    out: dict[str, str] = {}
    for (name, dtype), gname in zip(g.fields, g._group_names):
        frag = (f"CASE WHEN regexp_matches({text_col}, {sql_str(pat)}) "
                f"THEN regexp_extract({text_col}, {sql_str(pat)}, {idx[gname]}) END")
        out[name] = convert_sql(frag, dtype)
    return out


def _sink_case_sql() -> str:
    """The ROUTING_RULES selector rendered to DuckDB SQL."""
    return selector_sql(ROUTING_RULES)


# --------------------------------------------------------------------------
# 1. the transcript derivation itself (per-turn text equality invariant)
# --------------------------------------------------------------------------


@register(
    "transcripts",
    oracle_cte()
    + f"""
SELECT conv_id, turn_idx, role, text, coalesce(tool, '<null>') AS tool,
       {ISO.format(col='ts')} AS ts_iso
FROM transcripts
""",
)
def q_transcripts(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    return t.select(
        "conv_id", "turn_idx", "role", "text",
        F.coalesce("tool", F.lit("<null>")).alias("tool"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso"),
    )


# --------------------------------------------------------------------------
# 2. grok parse stage (pattern bank, first-match-wins, typed extraction)
# --------------------------------------------------------------------------


def _grok_bank_oracle() -> str:
    """First-match-wins across the three transcript patterns, field-by-field."""
    banks = [grok_extract_sql(p) for p in TRANSCRIPT_PATTERNS]
    pats = [Grok(p).pattern.pattern for p in TRANSCRIPT_PATTERNS]
    match = [f"regexp_matches(text, {sql_str(p)})" for p in pats]
    # a field belongs to exactly one pattern in our bank except event_time
    # (patterns 0 and 1) — first match wins
    all_fields: list[str] = []
    per_field: dict[str, list[tuple[int, str]]] = {}
    for i, bank in enumerate(banks):
        for name, frag in bank.items():
            if name not in per_field:
                per_field[name] = []
                all_fields.append(name)
            per_field[name].append((i, frag))
    sel = []
    for name in all_fields:
        # value from the FIRST pattern that matches this row and owns the
        # field; guarded so later patterns don't fire when an earlier
        # pattern already matched (bank is first-match-wins)
        cases = []
        for i, frag in per_field[name]:
            prior = [match[j] for j in range(i)]
            guard = (
                f"({match[i]} AND NOT ({' OR '.join(prior)}))" if prior else match[i]
            )
            cases.append(f"WHEN {guard} THEN {frag}")
        sel.append(f"CASE {' '.join(cases)} END AS {name}")
    matched_any = " OR ".join(match)
    return (
        oracle_cte()
        + "\nSELECT conv_id, turn_idx, "
        + ", ".join(sel)
        + f", ({matched_any}) AS grok_matched FROM transcripts"
    )


@register("grok_parse", _grok_bank_oracle())
def q_grok_parse(spark, sf_dir):
    t = parse_stage(load_transcripts(spark, sf_dir))
    field_names = [f.name for f in t.schema["parsed"].dataType.fields]
    return t.select(
        "conv_id",
        "turn_idx",
        *[F.col(f"parsed.{n}").alias(n) for n in field_names],
        F.array_contains(
            F.coalesce(F.col("flags"), F.array().cast("array<string>")),
            "grok_parsing_error",
        ).alias("grok_failed"),
    ).withColumn("grok_matched", ~F.col("grok_failed")).drop("grok_failed")


# --------------------------------------------------------------------------
# 3. routing selector (first-match-wins fan-out key)
# --------------------------------------------------------------------------


@register(
    "sink_aggregates",
    oracle_cte()
    + f"""
SELECT {_sink_case_sql()} AS _sink, role,
       count(*) AS turn_count,
       CAST(sum({TOOL_CALL_FLAG}) AS BIGINT) AS tool_call_count,
       count(DISTINCT conv_id) AS n_convs
FROM transcripts GROUP BY 1, 2
""",
)
def q_sink_aggregates(spark, sf_dir):
    return sink_aggregates(full_pipeline(spark, sf_dir))


# --------------------------------------------------------------------------
# 4. conversation rollups (per-conv turn count, first/last ts, tool calls)
# --------------------------------------------------------------------------


@register(
    "conv_rollups",
    oracle_cte()
    + f"""
SELECT conv_id, count(*) AS n_turns,
       {ISO.format(col='min(ts)')} AS first_ts,
       {ISO.format(col='max(ts)')} AS last_ts,
       CAST(sum({TOOL_CALL_FLAG}) AS BIGINT) AS total_tool_calls
FROM transcripts GROUP BY conv_id
""",
)
def q_conv_rollups(spark, sf_dir):
    r = conv_rollups(load_transcripts(spark, sf_dir))
    return r.withColumns({c: F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
                          for c in ("first_ts", "last_ts")})


# --------------------------------------------------------------------------
# 5. enrich: map-literal lookups (translate / cache-get shape)
# --------------------------------------------------------------------------


@register(
    "enrich_translate",
    oracle_cte()
    + f"""
SELECT role_group, tool_kind, billable, count(*) AS n,
       CAST(sum(priority) AS BIGINT) AS priority_sum
FROM (
  SELECT coalesce(role_lookup.role_group, 'unknown') AS role_group,
         coalesce(role_lookup.priority, 0) AS priority,
         coalesce(tool_lookup.tool_kind, 'none') AS tool_kind,
         coalesce(tool_lookup.billable, FALSE) AS billable
  FROM transcripts t
  LEFT JOIN {L.role_lookup_sql()} ON t.role = role_lookup.role
  LEFT JOIN {L.tool_lookup_sql()} ON t.tool = tool_lookup.tool
)
GROUP BY 1, 2, 3
""",
)
def q_enrich_translate(spark, sf_dir):
    # the pipeline's own lookups; the unused _id column is pruned
    t = enrich_stage(load_transcripts(spark, sf_dir))
    return t.groupBy("role_group", "tool_kind", "billable").agg(
        F.count("*").alias("n"),
        F.sum("priority").alias("priority_sum"),
    )


# --------------------------------------------------------------------------
# 6. condition DSL (drop_event / keep_event with composite conditions)
# --------------------------------------------------------------------------

_COND = {
    "and": [
        {"or": [
            {"equals": {"role": "assistant"}},
            {"contains": {"text": "level="}},
        ]},
        {"not": {"regexp": {"text": "corrupt"}}},
        {"range": {"turn_idx": {"gte": 1, "lt": 40}}},
    ]
}


@register(
    "condition_filter",
    oracle_cte()
    + f"""
SELECT role, count(*) AS n FROM transcripts
WHERE {condition_sql(_COND)}
GROUP BY role
""",
)
def q_condition_filter(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    return FL.keep_event(t, _COND).groupBy("role").agg(F.count("*").alias("n"))


@register(
    "drop_event",
    oracle_cte()
    + f"""
SELECT count(*) AS kept FROM transcripts
WHERE NOT {condition_sql({"contains": {"text": "!!corrupt"}})}
""",
)
def q_drop_event(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    return FL.drop_event(t, {"contains": {"text": "!!corrupt"}}).agg(
        F.count("*").alias("kept")
    )


# --------------------------------------------------------------------------
# 7. include/exclude lines (scan-level regex filters)
# --------------------------------------------------------------------------


@register(
    "exclude_lines",
    oracle_cte()
    + """
SELECT role, count(*) AS n FROM transcripts
WHERE NOT coalesce(regexp_matches(text, 'corrupt|level=DEBUG'), FALSE)
GROUP BY role
""",
)
def q_exclude_lines(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    return FL.exclude_lines(t, ["corrupt|level=DEBUG"]).groupBy("role").agg(
        F.count("*").alias("n")
    )


# --------------------------------------------------------------------------
# 8. fingerprint / add_id (deterministic hashing)
# --------------------------------------------------------------------------


@register(
    "fingerprint",
    oracle_cte()
    + """
SELECT count(DISTINCT fp) AS distinct_fps, count(*) AS n_rows,
       min(fp) AS min_fp, max(fp) AS max_fp
FROM (SELECT sha256(conv_id || '|' || CAST(turn_idx AS VARCHAR)) AS fp
      FROM transcripts)
""",
)
def q_fingerprint(spark, sf_dir):
    # mid-grain per-fp counts, then one tiny global agg — no distinct Expand
    t = load_transcripts(spark, sf_dir)
    fp = E.fingerprint(t, ["conv_id", "turn_idx"], target="fp")
    mid = fp.groupBy("fp").agg(F.count("*").alias("_n"))
    return mid.agg(
        F.count("*").alias("distinct_fps"),
        F.sum("_n").alias("n_rows"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


# --------------------------------------------------------------------------
# 9. ratelimit (keyed windowed top-N; counts are order-insensitive)
# --------------------------------------------------------------------------


@register(
    "ratelimit",
    oracle_cte()
    + """
SELECT conv_id, CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       count(*) AS total
FROM (
  SELECT conv_id,
         row_number() OVER (
           PARTITION BY time_bucket(INTERVAL '1 hour', ts), conv_id
           ORDER BY ts, conv_id) AS rn
  FROM transcripts
)
GROUP BY conv_id
""",
)
def q_ratelimit(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    kept = FL.ratelimit(t, 3, ["conv_id"], window="1 hour").groupBy("conv_id").agg(
        F.count("*").alias("kept")
    )
    total = t.groupBy("conv_id").agg(F.count("*").alias("total"))
    return kept.join(total, "conv_id")


# --------------------------------------------------------------------------
# 10. flows-style tumbling-window aggregation (packetbeat flows analogue)
# --------------------------------------------------------------------------


@register(
    "flows_window",
    oracle_cte()
    + f"""
SELECT {ISO.format(col="time_bucket(INTERVAL '1 hour', ts)")} AS window_start,
       role, count(*) AS n_events, count(DISTINCT conv_id) AS n_convs,
       CAST(sum({TOOL_CALL_FLAG}) AS BIGINT) AS tool_calls,
       CAST(sum(length(text)) AS BIGINT) AS sum_bytes,
       max(length(text)) AS max_bytes
FROM transcripts GROUP BY 1, 2
""",
)
def q_flows_window(spark, sf_dir):
    # mid-grain (window, role, conv_id) two-stage — exact distinct, no
    # Expand. Byte-volume stats (formerly the separate flows_bytes query,
    # folded in for registry consolidation, VERDICT r3 item 1) ride the
    # same mid-grain partial agg for free.
    t = load_transcripts(spark, sf_dir)
    mid = t.groupBy(F.window("ts", "1 hour").alias("w"), "role", "conv_id").agg(
        F.count("*").alias("_n"),
        F.sum(F.expr(TOOL_CALL_FLAG)).alias("_tcc"),
        F.sum(F.length("text")).alias("_sb"),
        F.max(F.length("text")).alias("_mb"),
    )
    return (
        mid.groupBy("w", "role")
        .agg(
            F.sum("_n").alias("n_events"),
            F.count("*").alias("n_convs"),
            F.sum("_tcc").alias("tool_calls"),
            F.sum("_sb").alias("sum_bytes"),
            F.max("_mb").alias("max_bytes"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd'T'HH:mm:ss").alias("window_start"),
            "role", "n_events", "n_convs", "tool_calls", "sum_bytes",
            "max_bytes",
        )
    )


# --------------------------------------------------------------------------
# 11. convert / timestamp re-parse (extracted event_time string → timestamp)
# --------------------------------------------------------------------------


@register(
    "timestamp_parse",
    oracle_cte()
    + f"""
SELECT count(*) AS n_parsed,
       min({ISO.format(col='parsed_ts')}) AS min_ts,
       max({ISO.format(col='parsed_ts')}) AS max_ts
FROM (
  SELECT CAST(regexp_extract(text,
      'ts=(\\d{{4}}-\\d{{2}}-\\d{{2}}T\\d{{2}}:\\d{{2}}:\\d{{2}})', 1) AS TIMESTAMP)
      AS parsed_ts
  FROM transcripts
  WHERE regexp_matches(text, '^level=')
)
""",
)
def q_timestamp_parse(spark, sf_dir):
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir).filter(F.col("text").rlike("^level="))
    t = t.withColumn(
        "event_time_str",
        F.regexp_extract("text", r"ts=(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})", 1),
    )
    t = P.timestamp(t, "event_time_str", ["2006-01-02T15:04:05"], target="parsed_ts")
    return t.agg(
        F.count("*").alias("n_parsed"),
        F.date_format(F.min("parsed_ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("parsed_ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("max_ts"),
    )


# --------------------------------------------------------------------------
# 12. dissect (anchored tokenizer → identical compiled regex in the oracle)
# --------------------------------------------------------------------------

_DISSECT_TOK = (
    '%{client_ip} %{ident} %{auth} [%{evt_ts}] "%{method} %{path} '
    'HTTP/%{http_ver}" %{status|integer} %{size|long}'
)


def _dissect_oracle() -> str:
    """Render the dissect tokenizer's compiled regex as DuckDB
    regexp_extract fragments — same single-source-of-truth trick as grok
    (plain-key tokenizers only: capture group i+1 == field i)."""
    from beats_spark.dissect import Dissector

    d = Dissector(_DISSECT_TOK)
    pat = sql_str(d.pattern.pattern)
    casts = {"integer": "INTEGER", "long": "BIGINT", "float": "REAL",
             "double": "DOUBLE", "boolean": "BOOLEAN"}
    frags = []
    for i, f in enumerate(d.fields):
        frag = (f"CASE WHEN regexp_matches(text, {pat}) "
                f"THEN regexp_extract(text, {pat}, {i + 1}) END")
        if f.dtype in casts:
            frag = f"CAST({frag} AS {casts[f.dtype]})"
        frags.append(f"{frag} AS {f.name}")
    return (
        oracle_cte()
        + "\nSELECT conv_id, turn_idx, "
        + ", ".join(frags)
        + ", regexp_matches(text, " + pat + ") AS dissect_ok FROM transcripts"
    )


@register("dissect_parse", _dissect_oracle())
def q_dissect_parse(spark, sf_dir):
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir)
    out = P.dissect(t, _DISSECT_TOK, field="text", target_prefix="d")
    names = [f.name for f in out.schema["d"].dataType.fields]
    return out.select(
        "conv_id", "turn_idx",
        *[F.col(f"d.{n}").alias(n) for n in names],
        F.col("d").isNotNull().alias("dissect_ok"),
    )


# --------------------------------------------------------------------------
# 13. syslog parse (RFC-5424 lines synthesized dialect-portably)
# --------------------------------------------------------------------------

_SYSLOG_RENDER = {
    "spark": (
        "printf('<%d>1 %s web-%d tool-%s %d MSGID - %s', "
        "CAST(turn_idx % 192 AS INT), date_format(ts, \"yyyy-MM-dd'T'HH:mm:ss'Z'\"), "
        "turn_idx % 9, coalesce(tool, 'none'), turn_idx + 100, text)"
    ),
    "duckdb": (
        "printf('<%d>1 %s web-%d tool-%s %d MSGID - %s', "
        "CAST(turn_idx % 192 AS INT), strftime(ts, '%Y-%m-%dT%H:%M:%SZ'), "
        "turn_idx % 9, coalesce(tool, 'none'), turn_idx + 100, text)"
    ),
}


def _syslog_oracle() -> str:
    from beats_spark.operators.misc import RFC5424_PATTERN

    sql = grok_extract_sql(RFC5424_PATTERN, text_col="line")
    names = [n for n in sql if n != "ts_raw"]
    return (
        oracle_cte(f"lines AS (SELECT {_SYSLOG_RENDER['duckdb']} AS line FROM transcripts)")
        + "\nSELECT "
        + ", ".join(names)
        # floor, not bare CAST: DuckDB rounds double→int, Spark truncates
        + ", CAST(floor(log_syslog_priority / 8) AS INT) AS facility"
        + " FROM (SELECT "
        + ", ".join(f"{frag} AS {name}" for name, frag in sql.items())
        + " FROM lines)"
    )


@register("syslog_parse", _syslog_oracle())
def q_syslog_parse(spark, sf_dir):
    from beats_spark.operators.misc import syslog

    from beats_spark.operators.misc import RFC5424_PATTERN

    t = load_transcripts(spark, sf_dir)
    lines = t.select(F.expr(_SYSLOG_RENDER["spark"]).alias("line"))
    out = syslog(lines, field="line", target_prefix="s")
    # compare the RFC-5424 field set (the bank's union schema also carries
    # RFC-3164-only keys like process_pid, null here)
    names = [n for n in GrokBank([RFC5424_PATTERN]).output_keys if n != "ts_raw"]
    return out.select(
        *[F.col(f"s.{n}").alias(n) for n in names],
        (F.col("s.log_syslog_priority") / 8).cast("int").alias("facility"),
    )


# --------------------------------------------------------------------------
# 14. multiline assembly (windowed cumsum grouping)
# --------------------------------------------------------------------------


@register(
    "multiline",
    oracle_cte()
    + """
, marked AS (
  SELECT conv_id, turn_idx, text,
         CASE WHEN NOT regexp_matches(text, '^user ') THEN 1 ELSE 0 END AS st
  FROM transcripts
), evts AS (
  SELECT *, CAST(sum(st) OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS event_seq
  FROM marked
)
SELECT conv_id, event_seq,
       string_agg(text, chr(10) ORDER BY turn_idx) AS message,
       min(turn_idx) AS first_line, max(turn_idx) AS last_line,
       count(*) AS n_lines
FROM evts GROUP BY conv_id, event_seq
""",
)
def q_multiline(spark, sf_dir):
    from beats_spark.operators.misc import multiline_assemble

    t = load_transcripts(spark, sf_dir)
    return multiline_assemble(t, r"^user ", negate=False, match="after")


# --------------------------------------------------------------------------
# 15. decode_json_fields (props payload via events)
# --------------------------------------------------------------------------


@register(
    "decode_json",
    oracle_cte()
    + """
SELECT role, count(*) AS n, CAST(sum(k) AS BIGINT) AS k_sum,
       min(k) AS k_min, max(k) AS k_max
FROM (
  SELECT role,
         CAST(json_extract(regexp_extract(text, 'props (.*)$', 1), '$.k')
              AS BIGINT) AS k
  FROM transcripts WHERE regexp_matches(text, '^user ')
)
GROUP BY role
""",
)
def q_decode_json(spark, sf_dir):
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir).filter(F.col("text").rlike("^user "))
    t = t.withColumn("props_json", F.regexp_extract("text", r"props (.*)$", 1))
    t = P.decode_json_fields(t, "props_json", schema="k bigint")
    return t.groupBy("role").agg(
        F.count("*").alias("n"),
        F.sum("props_json.k").alias("k_sum"),
        F.min("props_json.k").alias("k_min"),
        F.max("props_json.k").alias("k_max"),
    )


# --------------------------------------------------------------------------
# 16. field surgery combo: rename/copy/replace/truncate/case/extract
# --------------------------------------------------------------------------


@register(
    "field_surgery",
    oracle_cte()
    + """
SELECT conv_id, turn_idx,
       upper(role) AS role_up,
       regexp_replace(text, 'user', 'UsEr', 'g') AS text_repl,
       substr(text, 1, 24) AS text_trunc,
       CASE WHEN length(text) > 24 THEN TRUE ELSE FALSE END AS was_truncated,
       split_part(text, ' ', 1) AS first_token,
       text AS raw_copy
FROM transcripts
""",
)
def q_field_surgery(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    t = E.copy_fields(t, [("text", "raw_copy"), ("role", "role_up")])
    t = E.uppercase_fields(t, ["role_up"])
    t = t.withColumn("text_repl", F.col("text"))
    t = E.replace_fields(t, [{"field": "text_repl", "pattern": "user",
                              "replacement": "UsEr"}])
    t = t.withColumn("was_truncated", F.length("text") > 24)
    t = t.withColumn("text_trunc", F.substring("text", 1, 24))
    from beats_spark.operators import parse as P

    t = P.extract_field(t, "text", " ", 0, "first_token")
    return t.select("conv_id", "turn_idx", "role_up", "text_repl",
                    "text_trunc", "was_truncated", "first_token", "raw_copy")


# --------------------------------------------------------------------------
# 17. convert type lattice (+ ip validation)
# --------------------------------------------------------------------------


_TOK0_SQL = "split_part(text, ' ', 1)"  # extract_field(text, " ", 0)


@register(
    "convert_types",
    oracle_cte()
    + f"""
SELECT conv_id, turn_idx,
       CAST(turn_idx AS BIGINT) AS idx_long,
       CAST(turn_idx AS DOUBLE) AS idx_double,
       CAST(turn_idx AS VARCHAR) AS idx_str,
       {convert_sql(_TOK0_SQL, "long")} AS maybe_num,
       {convert_sql(_TOK0_SQL, "ip")} AS maybe_ip
FROM transcripts
""",
)
def q_convert_types(spark, sf_dir):
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir)
    t = P.extract_field(t, "text", " ", 0, "tok0")
    t = P.convert(t, [
        {"from": "turn_idx", "to": "idx_long", "type": "long"},
        {"from": "turn_idx", "to": "idx_double", "type": "double"},
        {"from": "turn_idx", "to": "idx_str", "type": "string"},
        {"from": "tok0", "to": "maybe_num", "type": "long"},
        {"from": "tok0", "to": "maybe_ip", "type": "ip"},
    ])
    return t.select("conv_id", "turn_idx", "idx_long", "idx_double",
                    "idx_str", "maybe_num", "maybe_ip")


# --------------------------------------------------------------------------
# 18. base64 / urldecode codec roundtrip
# --------------------------------------------------------------------------


@register(
    "codec_roundtrip",
    oracle_cte()
    + """
SELECT conv_id, turn_idx,
       base64(encode(text)) AS b64,
       decode(from_base64(base64(encode(text)))) AS roundtrip
FROM transcripts
""",
)
def q_codec_roundtrip(spark, sf_dir):
    # urldecode/url_encode are pytest-covered only: DuckDB 1.0 lacks them
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir)
    # Spark's base64() emits MIME 76-char CRLF chunks; normalize to the
    # unchunked form (decoders accept both)
    t = t.withColumn(
        "b64",
        F.regexp_replace(F.base64(F.col("text").cast("binary")), r"[\r\n]", ""),
    )
    t = P.decode_base64_field(t, "b64", "roundtrip")
    return t.select("conv_id", "turn_idx", "b64", "roundtrip")


# --------------------------------------------------------------------------
# 19. network conditions + direction classification
# --------------------------------------------------------------------------


@register(
    "network_direction",
    oracle_cte()
    + f"""
SELECT direction, count(*) AS n FROM (
  SELECT CASE
    WHEN {condition_sql({"network": {"ip": "private"}})} THEN 'outbound'
    ELSE 'external' END AS direction  -- dst is public
  FROM (SELECT {_TOK0_SQL} AS ip FROM transcripts)
)
GROUP BY direction
""",
)
def q_network_direction(spark, sf_dir):
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir)
    t = P.extract_field(t, "text", " ", 0, "tok0")
    t = P.convert(t, [{"from": "tok0", "to": "src_ip", "type": "ip"}])
    t = t.withColumn("dst_ip", F.lit("203.0.113.9"))  # constant external peer
    t = E.add_network_direction(t, "src_ip", "dst_ip", ["private"],
                                target="direction")
    return t.groupBy("direction").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# 20. flows with byte counters (packetbeat flows parity)
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# 21. embedding near-dup (cosine >= threshold pairs)
# --------------------------------------------------------------------------


@register(
    "embedding_dedup",
    f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {SIM.cosine_sql("a.e", "b.e")} AS cos
  FROM v a CROSS JOIN v b WHERE a.vec_id < b.vec_id
)
SELECT count(*) AS n_pairs,
       CAST(sum(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS near_dups,
       round(max(cos), 4) AS max_cos
FROM p
""",
)
def q_embedding_dedup(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return SIM.allpairs_cosine_stats(embs, threshold=0.9)


# --------------------------------------------------------------------------
# training-data ops: dedup / similarity / text analysis (documents, embeddings)
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
SELECT count(*) AS n_groups, CAST(sum(dup_count) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN dup_count > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       min(keep_id) AS min_keep, max(keep_id) AS max_keep
FROM (
  SELECT sha256({X.normalize_text_sql('text')}) AS k,
         min(doc_id) AS keep_id, count(*) AS dup_count
  FROM documents GROUP BY 1
)
""",
)
def q_dedup_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = D.exact_dedup(docs)
    return g.agg(
        F.count("*").alias("n_groups"),
        F.sum("dup_count").alias("n_docs"),
        F.sum(F.when(F.col("dup_count") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.min("keep_id").alias("min_keep"),
        F.max("keep_id").alias("max_keep"),
    )


@register(
    "token_counts",
    f"""
SELECT doc_id, {X.token_count_sql('text')} AS n_tokens,
       CAST({X.bpe_token_count_sql()} AS INTEGER) AS n_bpe_tokens
FROM documents
""",
)
def q_token_counts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return X.bpe_token_count(X.token_count(docs)).select(
        "doc_id", "n_tokens", "n_bpe_tokens"
    )


def _quality_oracle() -> str:
    frags = X.quality_features_sql("text")
    cols = ", ".join(f"{sql} AS {name}" for name, sql in frags.items())
    return f"SELECT doc_id, {cols} FROM documents"


@register("text_quality", _quality_oracle())
def q_text_quality(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return X.quality_features(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "punct_ratio",
        "stopword_hits", "mean_word_len", "quality_score",
    )


@register(
    "lang_id",
    f"""
SELECT pred_lang, lang,  count(*) AS n
FROM (SELECT lang, {X.lang_id_sql()} AS pred_lang FROM documents)
GROUP BY 1, 2
""",
)
def q_lang_id(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return X.lang_id(docs).groupBy("pred_lang", "lang").agg(F.count("*").alias("n"))


_BM25_TERMS = ["dup", "spark", "vector"]


@register("bm25_search", X.bm25_topk_sql(_BM25_TERMS, k=25))
def q_bm25_search(spark, sf_dir):
    """Okapi BM25 top-25 for a 3-term query (one rare planted marker +
    two common tokens) — the keyword-relevance retrieval step of a
    curation stack. Scores are ×1e6-quantized integers (same convention
    as dsir_select), so the DuckDB oracle is an exact equality on the
    full ranking. Plan: tokens filtered to the query terms inside the
    scan task (only matching docs shuffle, as bare (id, term, tf)
    triples), term-df and the 1-row (N, avgdl) stats broadcast back,
    top-k via TakeOrderedAndProject."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return X.bm25_topk(docs, _BM25_TERMS, k=25)


@register(
    "perplexity_filter",
    "WITH "
    + SM.lm_nll_sql("lang = 'en'")
    + """
SELECT doc_id, n_bigrams, nll_per_pos_milli
FROM lm_nll WHERE n_bigrams > 0
ORDER BY nll_per_pos_milli, doc_id
LIMIT 200
""",
)
def q_perplexity_filter(spark, sf_dir):
    """CCNet-style perplexity head selection (Wenzek et al. 2020): train a
    hashed-bigram LM on the English slice IN-PLAN (two ≤4096-row count
    aggregates — no external model), score every doc's NLL under it, keep
    the 200 most target-like. NLL contributions are ×1e6-quantized
    integers, so the DuckDB oracle reproduces the exact ranking. Plan:
    one explode of bare (id, b1, b2) ints, two broadcast count tables,
    per-doc integer sum that partial-aggregates map-side — text never
    shuffles."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = SM.lm_nll_scores(docs, F.col("lang") == "en")
    return (
        s.filter(F.col("n_bigrams") > 0)
        .orderBy("nll_per_pos_milli", "doc_id")
        .limit(200)
        .select("doc_id", "n_bigrams", "nll_per_pos_milli")
    )


@register("doc_fingerprint", X.doc_fingerprint_oracle())
def q_doc_fingerprint(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return X.doc_fingerprint(docs).select("doc_id", "doc_fp")


_TOKSET_SQL = f"list_distinct({X.tokens_sql('text')})"


@register(
    "prefix_jaccard_pairs",
    f"""
WITH d AS (SELECT doc_id, {_TOKSET_SQL} AS g FROM documents
           WHERE text IS NOT NULL AND doc_id < 1000),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.g, b.g)) AS i,
         len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
  FROM d a JOIN d b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(i AS INTEGER) AS inter_size, CAST(u AS INTEGER) AS union_size,
       round(i * 1.0 / u, 6) AS jaccard
FROM p WHERE i >= 0.5 * u
""",
)
def q_prefix_jaccard_pairs(spark, sf_dir):
    """EXACT similarity self-join via prefix filtering — the oracle is a
    brute-force all-pairs join, so a single missed or spurious pair fails
    the hash gate. This is the strong-correctness twin of the approximate
    minhash/banded path.

    The query slices to doc_id < 1000 (a no-op at the sf0.01 correctness
    gate, max id 499): this planted-dup corpus is so self-similar that the
    TRUE pair count is quadratic (8.9M pairs at 5k docs) — an unbounded
    exact join is the wrong tool at that density, and the bench should time
    the join machinery, not an 8.9M-row materialization."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 1000
    )
    return D.prefix_filter_jaccard_pairs(docs, threshold=0.5)


@register(
    "dedup_components",
    f"""
WITH RECURSIVE d AS (SELECT doc_id, {_TOKSET_SQL} AS g FROM documents
                     WHERE text IS NOT NULL AND doc_id < 1000),
e AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.g, b.g))
        >= 0.5 * (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
),
sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
),
comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a)
SELECT doc.doc_id, COALESCE(comp.component, doc.doc_id) AS component
FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.node
WHERE doc.doc_id < 1000
""",
)
def q_dedup_components(spark, sf_dir):
    """True transitive near-dup clusters: exact prefix-filter pairs →
    distributed alternating-star connected components. The oracle computes
    the same components with a recursive-CTE transitive closure — an
    entirely different algorithm, so agreement pins both the pair set and
    the component labeling. Sliced to doc_id < 1000 (no-op at the
    correctness SF) for the same density reason as prefix_jaccard_pairs."""
    from beats_spark.graph import assign_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 1000
    )
    pairs = D.prefix_filter_jaccard_pairs(docs, threshold=0.5)
    return assign_components(docs, pairs).select("doc_id", "component")


# exact near-dup pair CTE over char-5 shingle sets at J ≥ 0.6: brute-force
# all-pairs, so it is the ground truth the banded minhash path must equal.
# The Spark side runs bands = num_hashes (1 minhash row per band): a true
# pair is a candidate iff ANY of the 64 minhashes collide — miss
# probability (1-J)^64 ≤ 1e-25 at J ≥ 0.6 — and the survivor filter is the
# same exact-Jaccard verify, so the two engines agree up to 64-bit shingle
# hash collisions (P ≈ |shingles|²/2⁶⁴ per pair).
_MINHASH_PAIRS_CTE = f"""
d AS (SELECT doc_id, {D.shingles_sql("nt", 5)} AS s
      FROM (SELECT doc_id, {X.normalize_text_sql("text")} AS nt FROM documents
            WHERE text IS NOT NULL AND doc_id < 2000)),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
)
"""


@register(
    "minhash_dedup",
    f"""
WITH {_MINHASH_PAIRS_CTE}
SELECT doc_id FROM documents
WHERE text IS NOT NULL AND doc_id < 2000
  AND doc_id NOT IN (SELECT DISTINCT id_b FROM p)
""",
)
def q_minhash_dedup(spark, sf_dir):
    """Survivors after single-link minhash dedup (drop any doc with a
    lower-id near-duplicate). bands=num_hashes=64 makes candidate recall
    exact-in-practice (miss ≤ (1-J)^64), so the brute-force shingle-set
    oracle is an equality check, not a bound."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 2000
    ).where(F.col("text").isNotNull())
    return D.minhash_dedup(
        docs, threshold=0.6, num_hashes=64, bands=64
    ).select("doc_id")


@register(
    "minhash_dedup_cc",
    f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTE},
sym AS (SELECT id_a AS u, id_b AS v FROM p
        UNION SELECT id_b AS u, id_a AS v FROM p),
reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
),
comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a)
SELECT doc_id FROM documents
WHERE text IS NOT NULL AND doc_id < 2000
  AND doc_id NOT IN (SELECT node FROM comp WHERE node != component)
""",
)
def q_minhash_dedup_cc(spark, sf_dir):
    """Transitive (connected-component) variant of minhash_dedup: one
    survivor (the min id) per near-dup cluster even across chains a~b~c
    where a,c are not directly similar. Sliced to doc_id < 2000 (no-op at
    the correctness SF). Oracle: recursive-CTE transitive closure over the
    brute-force exact pair set — an independent algorithm for both the
    pair generation AND the component contraction."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 2000
    ).where(F.col("text").isNotNull())
    return D.minhash_dedup_cc(
        docs, threshold=0.6, num_hashes=64, bands=64
    ).select("doc_id")


def _hash_embed_votes_cte(max_id: int) -> str:
    """Shared DuckDB CTE chain deriving the dense feature-hashing vote
    vectors from md5 hex digests — single source for the simhash_pairs,
    hash_embed and hash_embed_topk oracles (bit-extraction parity is the
    whole point; copies could drift). Tokens are `textops.tokens_sql`
    minus the empty ones, as the kernel drops them."""
    return f"""
WITH d AS (
  SELECT doc_id, {X.tokens_sql('text')} AS toks
  FROM documents
  WHERE text IS NOT NULL AND trim(text, ' ') != '' AND doc_id < {max_id}
),
th AS (SELECT doc_id, md5(t.t) AS h FROM d, unnest(toks) AS t(t)
       WHERE t.t != ''),
bits AS (
  SELECT doc_id, bb.b AS b,
         CAST(sum(CASE WHEN ((strpos('0123456789abcdef',
                                     substr(h, 16 - (bb.b // 4), 1)) - 1)
                             >> (bb.b % 4)) & 1 = 1
                       THEN 1 ELSE -1 END) AS BIGINT) AS vote
  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
  GROUP BY 1, 2
)"""


# DuckDB recompute of the ENTIRE simhash pipeline: the 64-bit token hash is
# the first 8 md5 bytes (dedup._md5_token_hashes), so bit b of token t is
# nibble (15 - b//4) of md5(t) shifted by b%4 — SQL below extracts it with
# strpos on the hex digest. Votes, chunking into 4×16-bit words, and
# hamming via per-chunk xor+bit_count replay dedup.simhash_near_pairs
# exactly; max_hamming=3 keeps the Spark side's pigeonhole blocking
# EXHAUSTIVE (any pair within hamming 3 of 64 bits shares a 16-bit chunk),
# so the brute-force oracle is an equality check.
_SIMHASH_ORACLE = _hash_embed_votes_cte(1500) + """,
ch AS (
  SELECT doc_id, CAST(b // 16 AS INT) AS c,
         sum(CASE WHEN vote > 0 THEN 1 << (b % 16) ELSE 0 END) AS cv
  FROM bits GROUP BY 1, 2
),
sig AS (SELECT doc_id,
               max(CASE WHEN c = 0 THEN cv END) AS c0,
               max(CASE WHEN c = 1 THEN cv END) AS c1,
               max(CASE WHEN c = 2 THEN cv END) AS c2,
               max(CASE WHEN c = 3 THEN cv END) AS c3
        FROM ch GROUP BY doc_id)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
         bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
) WHERE hamming <= 3
"""


@register("simhash_pairs", _SIMHASH_ORACLE)
def q_simhash_pairs(spark, sf_dir):
    """Simhash near-dup pairs at hamming ≤ 3 — ORACLED (was rows-only):
    the md5-derived token hash makes every bit reproducible in DuckDB, and
    max_hamming=3 is exactly the bound where the 4-chunk pigeonhole
    blocking provably misses nothing, so oracle agreement pins the hash,
    the blocking, and the verify. Sliced to doc_id < 1500 (no-op at the
    correctness SF) to bound the oracle's brute-force pair join."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 1500)
        .where(F.col("text").isNotNull() & (F.trim("text") != ""))
    )
    return D.simhash_near_pairs(docs, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("long")
    )


@register(
    "ngram_jaccard_pairs",
    f"""
WITH d AS (
  SELECT doc_id, list_distinct({X.word_ngrams_sql("toks", 3, guarded=False)}) AS g
  FROM (SELECT doc_id, {X.tokens_sql("text")} AS toks
        FROM documents WHERE text IS NOT NULL AND doc_id < 1000)
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.g, b.g)) AS i,
         len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
  FROM d a JOIN d b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(i * 1.0 / u, 6) AS jaccard
FROM p WHERE i >= 0.3 * u
""",
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    """Word-3-gram Jaccard pairs in `exact` mode (prefix-filter candidate
    generation — provably no missed pairs), so the brute-force all-pairs
    DuckDB oracle is an equality check. The banded minhash candidate mode
    (exact=False) is the 100-TB scale path; both share the same exact
    verify. Sliced to doc_id < 1000 (no-op at the correctness SF) for the
    same pair-density reason as prefix_jaccard_pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 1000
    )
    return D.ngram_jaccard_pairs(docs, threshold=0.3, exact=True)


# Every ANN listing and recall@k query is oracled: DuckDB recomputes the
# index itself (the LSH planes are corpus vectors, the IVF seed an id-range
# centroid slice, so bucket and cell assignment are plain SQL arithmetic)
# through the twins in `similarity`, ranks the candidates, and for recall
# replays the exact top-k and the hit join. A green row therefore pins
# candidate generation and ranking, not just arithmetic on Spark-computed
# inputs. `_ANN_CTE` gives `v` (vec_id, vv), the ten queries `q` and their
# exact top-5 `exact` (`cosine_topk`).

_ANN_CTE = f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id < 10),
exact_p AS (
  SELECT q.vec_id AS query_id, q.vv AS qv, n.vec_id AS neighbor_id, n.vv AS nv
  FROM q CROSS JOIN v n WHERE n.vec_id <> q.vec_id),
exact AS ({SIM.top_k_sql("exact_p", 5)})"""
_LSH = dict(n_planes=3, n_tables=5, plane_id_start=100)
# the id-range centroid seed of the IVF and SemDeDup queries
_SEED_IDS = (200, 208)
_SEED_SQL = ("SELECT vec_id AS cell_id, vv AS cv FROM v"
             " WHERE vec_id >= {} AND vec_id < {}".format(*_SEED_IDS))


def _approx_cte(cand: str) -> str:
    """The candidate pairs `cand` (query_id, neighbor_id) ranked as
    `approx`: the engine's `_top_k` on the vectors joined back by id."""
    return f"""cand AS ({cand}),
cand_v AS (
  SELECT c.query_id, qv.vv AS qv, c.neighbor_id, nv.vv AS nv
  FROM cand c
  JOIN v qv ON qv.vec_id = c.query_id
  JOIN v nv ON nv.vec_id = c.neighbor_id),
approx AS ({SIM.top_k_sql("cand_v", 5)})"""


_LSH_APPROX = _approx_cte(SIM.lsh_candidates_sql("v", "q", **_LSH))


def _ivf_approx(n_probe: int, kmeans_iters: int) -> str:
    """`ivf_topk` from the `_SEED_IDS` slice: `kmeans_iters` Lloyd steps
    (per-cell per-dimension mean, cast to float as in Spark), then the
    assignment, the probe and the ranking."""
    cents = [f"c0 AS ({_SEED_SQL})"]
    for i in range(1, kmeans_iters + 1):
        cents.append(f"""c{i} AS (
  SELECT cell_id, CAST(list(CAST(m AS FLOAT) ORDER BY pos) AS DOUBLE[]) AS cv
  FROM (SELECT cell_id, pos, avg(vv[pos]) AS m
        FROM (SELECT cell_id, vv, unnest(range(1, len(vv) + 1)) AS pos
              FROM ({SIM.nearest_cells_sql("v", f"c{i - 1}")}))
        GROUP BY 1, 2)
  GROUP BY 1)""")
    c = f"c{kmeans_iters}"
    return ",\n".join(cents) + f""",
assign AS ({SIM.nearest_cells_sql("v", c)}),
probe AS ({SIM.nearest_cells_sql("q", c, n_probe)}),
""" + _approx_cte("""SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN assign a ON a.cell_id = p.cell_id
  WHERE a.vec_id <> p.vec_id""")


_LISTING = "SELECT query_id, neighbor_id, round(score, 4) AS score, rank FROM"

_RECALL = """
SELECT 5 AS k,
       count(DISTINCT e.query_id) AS n_queries,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / count(*), 4) AS recall
FROM exact e
LEFT JOIN approx a
       ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
"""


def _ann_inputs(spark, sf_dir):
    """The vectors, the ten queries and the `_SEED_IDS` centroid slice."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lo, hi = _SEED_IDS
    return (embs, embs.filter(F.col("vec_id") < 10),
            embs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)))


def _listing(out):
    return out.select(
        "query_id", "neighbor_id", F.round("score", 4).alias("score"), "rank"
    )


@register("ann_cosine_topk", f"WITH {_ANN_CTE}\n{_LISTING} exact")
def q_ann_cosine_topk(spark, sf_dir):
    embs, q, _ = _ann_inputs(spark, sf_dir)
    return _listing(SIM.cosine_topk(embs, q, k=5))


@register("ann_lsh_topk", f"WITH {_ANN_CTE},\n{_LSH_APPROX}\n{_LISTING} approx")
def q_ann_lsh_topk(spark, sf_dir):
    embs, q, _ = _ann_inputs(spark, sf_dir)
    return _listing(SIM.lsh_topk(embs, q, k=5, **_LSH))


@register(
    "ann_ivf_topk",
    f"WITH {_ANN_CTE},\n{_ivf_approx(4, 1)}\n{_LISTING} approx",
)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat with one Lloyd step, seeded from the id-range slice
    because DuckDB has no xxhash64 for the default sample."""
    embs, q, seed = _ann_inputs(spark, sf_dir)
    return _listing(SIM.ivf_topk(
        embs, q, k=5, n_cells=8, n_probe=4, kmeans_iters=1, centroids=seed
    ))


@register("ann_lsh_recall", f"WITH {_ANN_CTE},\n{_LSH_APPROX}\n{_RECALL}")
def q_ann_lsh_recall(spark, sf_dir):
    """recall@5 of the LSH index vs exact brute-force cosine — one row (k,
    n_queries, n_exact, n_hit, recall). The oracle recomputes the LSH
    buckets, the candidate join, the within-bucket ranking, the exact
    top-k, AND the hit join entirely in DuckDB.

    Params (3 bits × 5 tables) were swept against this corpus: the
    synthetic embeddings are near-random (weak label clusters), so recall
    tracks the candidate fraction — 0.68 recall examining ~47% of pairs
    here; sharper buckets (8 bits) collapse to recall 0 because exact
    8-bit signature agreement is rare without real cluster structure.
    Real embedding corpora sit far above this floor; the point of the
    QUERY is the driver-verified recall measurement itself."""
    embs, q, _ = _ann_inputs(spark, sf_dir)
    exact = SIM.cosine_topk(embs, q, k=5)
    approx = SIM.lsh_topk(embs, q, k=5, **_LSH)
    return SIM.recall_vs_exact(approx, exact, k=5)


@register("ann_ivf_recall", f"WITH {_ANN_CTE},\n{_ivf_approx(3, 0)}\n{_RECALL}")
def q_ann_ivf_recall(spark, sf_dir):
    """recall@5 of IVF-flat (explicit id-range centroid slice, n_probe=3)
    vs exact brute-force cosine — the oracle recomputes cell assignment,
    probing, within-cell ranking, exact top-k, and the hit join."""
    embs, q, seed = _ann_inputs(spark, sf_dir)
    exact = SIM.cosine_topk(embs, q, k=5)
    approx = SIM.ivf_topk(embs, q, k=5, n_cells=8, n_probe=3, centroids=seed)
    return SIM.recall_vs_exact(approx, exact, k=5)


@register(
    "semdedup",
    f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
cents AS ({_SEED_SQL}),
assign AS ({SIM.nearest_cells_sql("v", "cents")}),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE {SIM.cosine_sql("a.vv", "b.vv")} >= 0.4)
SELECT a.vec_id, a.cell_id, (d.vec_id IS NULL) AS kept
FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
""",
)
def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster embeddings to the explicit
    id-range centroid slice, drop all-but-the-lowest-id of every
    within-cell pair above the cosine threshold. The oracle recomputes
    assignment, the within-cell pair scan, and the survivor flags row by
    row — a full equality check of the semantic-dedup decision, not a
    statistical bound. Threshold 0.4 sits at this synthetic table's
    observed cosine tail (max pairwise 0.51, no planted near-identical
    vectors); the operator default is the paper-typical 0.95. Plan:
    broadcast centroids, max_by assignment (no window sort), cell-keyed
    equi-join + codegen cosine residual, bare-id drop set."""
    embs, _, seed = _ann_inputs(spark, sf_dir)
    return SIM.semdedup(embs, threshold=0.4, centroids=seed)


# --------------------------------------------------------------------------
# §2.10 Spark-native analytics over transcripts (sort/top-k, grouping sets,
# window functions, self-join) — free from the engine, exposed as queries
# --------------------------------------------------------------------------


@register(
    "topk_convs",
    oracle_cte()
    + f"""
SELECT conv_id, tool_calls, n_turns FROM (
  SELECT conv_id, CAST(sum({TOOL_CALL_FLAG}) AS BIGINT) AS tool_calls,
         count(*) AS n_turns
  FROM transcripts GROUP BY conv_id
)
ORDER BY tool_calls DESC, conv_id LIMIT 10
""",
)
def q_topk_convs(spark, sf_dir):
    r = conv_rollups(load_transcripts(spark, sf_dir))
    return r.select(
        "conv_id", F.col("total_tool_calls").alias("tool_calls"), "n_turns"
    ).orderBy(F.col("tool_calls").desc(), "conv_id").limit(10)


@register(
    "rollup_agg",
    oracle_cte()
    + """
SELECT coalesce(role, '<all>') AS role,
       coalesce(tool, '<all>') AS tool,
       count(*) AS n
FROM transcripts
GROUP BY GROUPING SETS ((role, tool), (role), ())
""",
)
def q_rollup_agg(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    return (
        t.rollup("role", "tool")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("role", F.lit("<all>")).alias("role"),
            F.coalesce("tool", F.lit("<all>")).alias("tool"),
            "n",
        )
    )


@register(
    "turn_latency",
    oracle_cte()
    + """
SELECT role, count(*) AS n_gaps,
       CAST(sum(gap_s) AS BIGINT) AS total_gap_s, max(gap_s) AS max_gap_s
FROM (
  SELECT role,
         -- floor each epoch separately: Spark's unix_timestamp truncates
         -- sub-second parts per-timestamp; DuckDB epoch() is fractional
         CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
              PARTITION BY conv_id ORDER BY turn_idx))) AS BIGINT) AS gap_s
  FROM transcripts
)
WHERE gap_s IS NOT NULL
GROUP BY role
""",
)
def q_turn_latency(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    g = t.withColumn(
        "gap_s",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))),
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("role").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap_s").alias("total_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


@register(
    "response_pairs",
    oracle_cte()
    + """
SELECT a.role AS prompt_role, b.role AS response_role, count(*) AS n
FROM transcripts a JOIN transcripts b
  ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1
GROUP BY 1, 2
""",
)
def q_response_pairs(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    a = t.select(F.col("conv_id"), F.col("turn_idx"), F.col("role").alias("prompt_role"))
    b = t.select(
        F.col("conv_id"), (F.col("turn_idx") - 1).alias("turn_idx"),
        F.col("role").alias("response_role"),
    )
    return a.join(b, ["conv_id", "turn_idx"]).groupBy(
        "prompt_role", "response_role"
    ).agg(F.count("*").alias("n"))


# ORACLED (was rows-only): synthesize_media writes REAL container headers
# (PNG IHDR / GIF descriptor / JPEG SOF0 / WAV fmt) whose dimensions and
# channel counts are pure functions of doc_id; decode_media parses them
# back from the BYTES with stdlib struct. The
# oracle recomputes the planted metadata from doc_id alone — agreement
# proves the binary build AND the binary parse round-trip, not just
# plumbing. (byte_len stays out: zlib body length isn't SQL-expressible.)
_MEDIA_ORACLE = """
WITH m AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 IN (0, 1, 4) THEN 'image'
         WHEN doc_id % 5 = 2 THEN 'audio' ELSE 'video' END AS kind,
    CASE WHEN doc_id % 5 IN (0, 1, 4)
         THEN 16 + (doc_id * 37) % 480 END AS w,
    CASE WHEN doc_id % 5 IN (0, 1, 4)
         THEN 16 + (doc_id * 53) % 360 END AS h,
    CASE WHEN doc_id % 5 = 0 THEN
           CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 3 END
         WHEN doc_id % 5 = 1 THEN
           CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END
         WHEN doc_id % 5 = 2 THEN 1 + doc_id % 2
         WHEN doc_id % 5 = 4 THEN 3 END AS ch
  FROM documents)
SELECT kind, count(*) AS n, count(*) AS n_ok,
       min(w) AS min_w, max(h) AS max_h,
       CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h,
       CAST(sum(ch) AS BIGINT) AS sum_channels
FROM m GROUP BY kind
"""


@register("media_decode", _MEDIA_ORACLE)
def q_media_decode(spark, sf_dir):
    """Multimodal round-trip: synthesize binary media with real headers,
    parse dimensions/channels back OUT of the bytes via the stdlib header
    decoder (mapInPandas), aggregate per kind. Oracle recomputes the
    planted values from doc_id — see _MEDIA_ORACLE."""
    import beats_spark.multimodal as M

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = M.synthesize_media(docs)
    decoded = M.decode_media(media)  # real header parse
    return decoded.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        F.min("width").alias("min_w"),
        F.max("height").alias("max_h"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"),
        F.sum("channels").alias("sum_channels"),
    )


@register(
    "sessionize",
    oracle_cte()
    + """
, gaps AS (
  SELECT conv_id, turn_idx, ts,
         floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY conv_id
                                                      ORDER BY turn_idx))) AS gap
  FROM transcripts
), marked AS (
  SELECT *, CASE WHEN gap IS NULL OR gap > 43200 THEN 1 ELSE 0 END AS st
  FROM gaps
), sess AS (
  SELECT *, CAST(sum(st) OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM marked
)
SELECT conv_id, session_seq, count(*) AS n_events,
       min(turn_idx) AS first_idx, max(turn_idx) AS last_idx,
       strftime(min(ts), '%Y-%m-%dT%H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%dT%H:%M:%S') AS session_end
FROM sess GROUP BY conv_id, session_seq
""",
)
def q_sessionize(spark, sf_dir):
    from beats_spark.operators.misc import sessionize

    t = load_transcripts(spark, sf_dir)
    return sessionize(t, gap_seconds=43200)


# --------------------------------------------------------------------------
# network identity (community_id, registered_domain) + decode_xml
# --------------------------------------------------------------------------

# deterministic host synthesis shared verbatim by both dialects: bases chosen
# to exercise every PSL rule class (exact TLD, registry SLD, private suffix,
# exception !www.ck, wildcard *.ck, unlisted TLD fallback)
_RD_BASE_SQL = """CASE CAST(event_id % 7 AS INT)
  WHEN 0 THEN 'example.com' WHEN 1 THEN 'example.co.uk'
  WHEN 2 THEN 'users.github.io' WHEN 3 THEN 'www.ck'
  WHEN 4 THEN 'foo.bar.ck' WHEN 5 THEN 'internal'
  ELSE 'google.com' END"""
_RD_HOST_SQL = f"printf('%s.%s', event_type, {_RD_BASE_SQL})"


@register(
    "registered_domain",
    f"""
WITH hosts AS (
  SELECT {_RD_HOST_SQL} AS host, {_RD_BASE_SQL} AS base, event_type FROM events
), expected AS (
  -- independent expectation: PSL rules applied by hand per base
  SELECT
    CASE base
      WHEN 'example.com'     THEN 'example.com'
      WHEN 'example.co.uk'   THEN 'example.co.uk'
      WHEN 'users.github.io' THEN 'users.github.io'
      WHEN 'www.ck'          THEN 'www.ck'
      WHEN 'foo.bar.ck'      THEN 'foo.bar.ck'
      WHEN 'internal'        THEN printf('%s.internal', event_type)
      ELSE 'google.com' END AS rd,
    CASE base
      WHEN 'example.com'     THEN 'com'
      WHEN 'example.co.uk'   THEN 'co.uk'
      WHEN 'users.github.io' THEN 'github.io'
      WHEN 'www.ck'          THEN 'ck'
      WHEN 'foo.bar.ck'      THEN 'bar.ck'
      WHEN 'internal'        THEN 'internal'
      ELSE 'com' END AS etld
  FROM hosts
)
SELECT rd, etld, count(*) AS n FROM expected GROUP BY 1, 2
""",
)
def q_registered_domain(spark, sf_dir):
    """eTLD+1 over hosts synthesized from events — reference:
    registered_domain.go:93 (publicsuffix.EffectiveTLDPlusOne)."""
    from beats_spark.operators import network as NET

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hosts = ev.selectExpr(f"{_RD_HOST_SQL} AS host")
    out = NET.registered_domain(hosts, "host", target="rd", etld_target="etld")
    return out.groupBy("rd", "etld").agg(F.count("*").alias("n"))


# deterministic XML synthesis shared by both dialects; ~5% malformed rows
# exercise the failure path (decode null + error flag)
_XML_SQL = (
    "CASE WHEN event_id % 20 = 7 THEN '<event><unclosed></event' ELSE "
    "printf('<event id=\"%d\" type=\"%s\"><value>%d</value><user>%d</user>"
    "</event>', event_id, event_type, CAST(floor(value * 100) AS BIGINT), "
    "user_id) END"
)


@register(
    "decode_xml",
    f"""
WITH x AS (SELECT {_XML_SQL} AS xml, event_id FROM events),
p AS (
  SELECT
    CASE WHEN event_id % 20 = 7 THEN NULL
         ELSE regexp_extract(xml, 'type="([a-z]+)"', 1) END AS xtype,
    CASE WHEN event_id % 20 = 7 THEN NULL
         ELSE CAST(regexp_extract(xml, '<value>(-?[0-9]+)</value>', 1) AS BIGINT)
         END AS xval,
    CASE WHEN event_id % 20 = 7 THEN NULL
         ELSE CAST(regexp_extract(xml, '<user>([0-9]+)</user>', 1) AS BIGINT)
         END AS xuser
  FROM x
)
SELECT xtype, count(*) AS n_rows, CAST(sum(xval) AS BIGINT) AS total_value,
       min(xuser) AS min_user, max(xuser) AS max_user
FROM p GROUP BY 1
""",
)
def q_decode_xml(spark, sf_dir):
    """Generic XML decode (reference decode_xml.go:97-128) over synthesized
    event XML; malformed rows decode to null and flow into the NULL group."""
    from beats_spark.operators import parse as P

    # single-row-group test parquet = 1 scan split; widen so the
    # vectorized UDF bank below runs core-wide (no-op on real multi-
    # split sources) — see beats_spark.scale.widen_scan
    ev = widen_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    x = ev.selectExpr(f"{_XML_SQL} AS xml", "event_id")
    decoded = P.decode_xml(x, "xml", target="doc", ignore_failure=True)
    p = decoded.select(
        F.get_json_object("doc", "$.event.type").alias("xtype"),
        F.get_json_object("doc", "$.event.value").cast("long").alias("xval"),
        F.get_json_object("doc", "$.event.user").cast("long").alias("xuser"),
    )
    return p.groupBy("xtype").agg(
        F.count("*").alias("n_rows"),
        F.sum("xval").alias("total_value"),
        F.min("xuser").alias("min_user"),
        F.max("xuser").alias("max_user"),
    )


# apache access lines synthesized from events; the host alternates between
# dotted-quad, hostname, and IPv6 forms to exercise the source ip/domain
# split, and event_type drives the status → outcome classes
_AA_HOST_SQL = (
    "CASE CAST(event_id % 3 AS INT) "
    "WHEN 0 THEN printf('10.0.%d.%d', user_id % 250, event_id % 250) "
    "WHEN 1 THEN printf('host%d.example.com', user_id % 50) "
    "ELSE '::1' END"
)
_AA_STATUS_SQL = (
    "CASE WHEN event_type = 'error' THEN 500 "
    "WHEN event_type = 'click' THEN 301 ELSE 200 END"
)


def _aa_line_sql(dialect: str) -> str:
    from beats_spark.data.transcripts import _ISO_TS  # dialect ts fragment

    date = (
        "date_format(ts, 'dd/MMM/yyyy:HH:mm:ss')"
        if dialect == "spark"
        else "strftime(ts, '%d/%b/%Y:%H:%M:%S')"
    )
    return (
        f"printf('%s - user%d [%s +0000] \"GET /api/%s/%d HTTP/1.1\" %d %d', "
        f"{_AA_HOST_SQL}, user_id, {date}, event_type, event_id % 100, "
        f"{_AA_STATUS_SQL}, CAST(floor(value * 100) AS BIGINT))"
    )


@register(
    "module_apache",
    f"""
WITH expected AS (
  SELECT CASE WHEN {_AA_STATUS_SQL} < 400 THEN 'success' ELSE 'failure' END AS outcome,
         CASE WHEN event_id % 3 = 0 THEN printf('10.0.%d.%d', user_id % 250, event_id % 250)
              WHEN event_id % 3 = 2 THEN '::1' END AS src_ip,
         CASE WHEN event_id % 3 = 1 THEN printf('host%d.example.com', user_id % 50) END AS src_domain,
         printf('/api/%s/%d', event_type, event_id % 100) AS path,
         CAST(floor(value * 100) AS BIGINT) AS bytes,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso
  FROM events
)
SELECT outcome, count(*) AS n_rows, CAST(sum(bytes) AS BIGINT) AS total_bytes,
       count(src_ip) AS n_ip, count(src_domain) AS n_domain,
       min(path) AS min_path, max(path) AS max_path,
       min(ts_iso) AS min_ts, max(ts_iso) AS max_ts
FROM expected GROUP BY 1
""",
)
def q_module_apache(spark, sf_dir):
    """The apache.access module pipeline (modules.py, pipeline.yml parity
    pinned by tests/test_modules.py goldens) over synthesized access lines.
    The oracle derives every expected field independently from the event
    columns the line was printed from."""
    from beats_spark.modules import apache_access

    # single-row-group test parquet = 1 scan split; widen so the
    # vectorized UDF bank below runs core-wide (no-op on real multi-
    # split sources) — see beats_spark.scale.widen_scan
    ev = widen_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    lines = ev.selectExpr(f"{_aa_line_sql('spark')} AS message")
    out = apache_access(lines)
    return out.groupBy(F.col("event_outcome").alias("outcome")).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("parsed.http_response_body_bytes")).alias("total_bytes"),
        F.count("source_ip").alias("n_ip"),
        F.count("source_domain").alias("n_domain"),
        F.min("url_path").alias("min_path"),
        F.max("url_path").alias("max_path"),
        F.min(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("min_ts"),
        F.max(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("max_ts"),
    )


def _auth_line_sql(dialect: str) -> str:
    """Deterministic ssh/sudo/useradd auth lines from the events table —
    ISO (year-full, zoneless) stamps so the date chain is reproducible in
    both engines. Four line classes by event_id % 4: Accepted ssh, Failed
    ssh, sudo, useradd."""
    iso = (
        "date_format(ts, 'yyyy-MM-dd\\'T\\'HH:mm:ss')"
        if dialect == "spark"
        else "strftime(ts, '%Y-%m-%dT%H:%M:%S')"
    )
    pid = "CAST(event_id % 9000 + 100 AS BIGINT)"
    un = "CAST(user_id % 50 AS BIGINT)"
    o1, o2 = "CAST(user_id % 250 AS BIGINT)", "CAST(event_id % 250 AS BIGINT)"
    port = "CAST(event_id % 60000 + 1024 AS BIGINT)"
    return f"""CASE CAST(event_id % 4 AS INT)
 WHEN 0 THEN printf('%s localhost sshd[%d]: Accepted password for user%d from 10.0.%d.%d port %d ssh2',
                    {iso}, {pid}, {un}, {o1}, {o2}, {port})
 WHEN 1 THEN printf('%s localhost sshd[%d]: Failed password for root from 10.0.%d.%d port %d ssh2',
                    {iso}, {pid}, {o1}, {o2}, {port})
 WHEN 2 THEN printf('%s localhost sudo: user%d : TTY=pts/0 ; PWD=/home/user%d ; USER=root ; COMMAND=/bin/ls',
                    {iso}, {un}, {un})
 ELSE printf('%s localhost useradd[%d]: new user: name=user%d, UID=%d, GID=%d, home=/home/user%d, shell=/bin/bash',
             {iso}, {pid}, {un}, {un}, {un}, {un})
 END"""


@register(
    "module_system_auth",
    """
WITH expected AS (
  SELECT CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'success'
              WHEN 1 THEN 'failure' WHEN 3 THEN 'success' END AS outcome,
         CASE WHEN event_id % 4 IN (0, 1)
              THEN printf('10.0.%d.%d', user_id % 250, event_id % 250)
              END AS src_ip,
         CASE CAST(event_id % 4 AS INT)
              WHEN 1 THEN 'root'
              ELSE printf('user%d', user_id % 50) END AS uname,
         CASE WHEN event_id % 4 = 2 THEN 'root' END AS eff,
         CASE WHEN event_id % 4 IN (0, 1)
              THEN event_id % 60000 + 1024 END AS port,
         CASE WHEN event_id % 4 IN (0, 1) THEN 'ssh_login' END AS action,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso
  FROM events
)
SELECT outcome, count(*) AS n_rows, count(src_ip) AS n_ip,
       count(DISTINCT uname) AS n_users,
       min(uname) AS min_user, max(uname) AS max_user,
       count(eff) AS n_eff, count(action) AS n_action,
       CAST(sum(port) AS BIGINT) AS sum_port,
       min(ts_iso) AS min_ts, max(ts_iso) AS max_ts
FROM expected GROUP BY 1
""",
)
def q_module_system_auth(spark, sf_dir):
    """The system.auth module pipeline (modules.py; golden parity vs all
    four reference logs pinned in tests/test_modules.py) over synthesized
    ssh/sudo/useradd lines; the oracle derives every expected field
    independently from the event columns each line was printed from."""
    from beats_spark.modules import system_auth

    # single-row-group test parquet = 1 scan split; widen so the
    # vectorized UDF bank below runs core-wide (no-op on real multi-
    # split sources) — see beats_spark.scale.widen_scan
    ev = widen_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    lines = ev.selectExpr(f"{_auth_line_sql('spark')} AS message")
    out = system_auth(lines)
    return out.groupBy(F.col("event_outcome").alias("outcome")).agg(
        F.count("*").alias("n_rows"),
        F.count("source_ip").alias("n_ip"),
        F.countDistinct("user_name").alias("n_users"),
        F.min("user_name").alias("min_user"),
        F.max("user_name").alias("max_user"),
        F.count("user_effective_name").alias("n_eff"),
        F.count("event_action").alias("n_action"),
        F.sum("source_port").alias("sum_port"),
        F.min(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("min_ts"),
        F.max(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("max_ts"),
    )


@register(
    "module_kafka",
    """
WITH expected AS (
  SELECT CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'INFO' WHEN 1 THEN 'WARN'
              WHEN 2 THEN 'ERROR' ELSE 'DEBUG' END AS level,
         printf('Component id=%d', user_id % 20) AS component,
         printf('Handled partition %d', event_id % 100) AS msg,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso
  FROM events
)
SELECT level, CASE WHEN level IN ('ERROR','FATAL') THEN 'error' ELSE 'info' END AS etype,
       count(*) AS n_rows, count(DISTINCT component) AS n_components,
       min(msg) AS min_msg, max(msg) AS max_msg,
       min(ts_iso) AS min_ts, max(ts_iso) AS max_ts
FROM expected GROUP BY 1, 2
""",
)
def q_module_kafka(spark, sf_dir):
    """The kafka.log module pipeline (modules.py; golden parity pinned by
    tests/test_modules.py) over synthesized broker-log lines; the oracle
    derives every expected field independently from the event columns."""
    from beats_spark.modules import kafka_log

    # single-row-group test parquet = 1 scan split; widen so the
    # vectorized UDF bank below runs core-wide (no-op on real multi-
    # split sources) — see beats_spark.scale.widen_scan
    ev = widen_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    lines = ev.selectExpr(
        "printf('[%s] %s [Component id=%d] Handled partition %d "
        "(kafka.server.KafkaApis)', "
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss,SSS'), "
        "CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'INFO' WHEN 1 THEN 'WARN' "
        "WHEN 2 THEN 'ERROR' ELSE 'DEBUG' END, "
        "user_id % 20, event_id % 100) AS message"
    )
    out = kafka_log(lines)
    mid = out.groupBy(
        F.col("log_level").alias("level"),
        F.col("event_type").alias("etype"),
        F.col("kafka_log_component").alias("component"),
    ).agg(
        F.count("*").alias("_n"),
        F.min("message_out").alias("_min_msg"),
        F.max("message_out").alias("_max_msg"),
        F.min(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("_min_ts"),
        F.max(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("_max_ts"),
    )
    return mid.groupBy("level", "etype").agg(
        F.sum("_n").alias("n_rows"),
        F.count("component").alias("n_components"),
        F.min("_min_msg").alias("min_msg"),
        F.max("_max_msg").alias("max_msg"),
        F.min("_min_ts").alias("min_ts"),
        F.max("_max_ts").alias("max_ts"),
    )


@register("community_id")  # rows-only: DuckDB has no sha1; the exact hash is
# pinned to tests/golden/community_id_vectors.json (spec vectors included)
def q_community_id(spark, sf_dir):
    """Community ID v1 over flow tuples synthesized from events
    (reference communityid.go:89-105)."""
    from beats_spark.operators import network as NET

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flows = ev.selectExpr(
        "printf('10.0.%d.%d', user_id % 250, event_id % 250) AS source_ip",
        "printf('192.168.%d.%d', event_id % 200, user_id % 200) AS destination_ip",
        "CAST(1024 + event_id % 60000 AS INT) AS source_port",
        "CAST(CASE WHEN event_id % 2 = 0 THEN 80 ELSE 443 END AS INT) AS destination_port",
        "CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'tcp' WHEN 1 THEN 'udp' "
        "WHEN 2 THEN 'icmp' ELSE 'sctp' END AS transport",
        "CAST(event_id % 16 AS INT) AS icmp_type",
        "CAST(event_id % 3 AS INT) AS icmp_code",
    )
    out = NET.community_id(flows, icmp_type="icmp_type", icmp_code="icmp_code")
    mid = out.groupBy("community_id").agg(F.count("*").alias("_n"))
    return mid.agg(
        F.count("*").alias("n_flows"),
        F.sum("_n").alias("n_rows"),
        F.min("community_id").alias("min_id"),
        F.max("community_id").alias("max_id"),
    )


def _iis_error_line_sql(dialect: str) -> str:
    """Deterministic IIS HTTP-API error lines from the events table: four
    url classes by event_id % 4 (plain file, query-string, multi-dot html,
    and the no-uri '-' form) and a status mix covering both outcomes."""
    iso = (
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss')"
        if dialect == "spark"
        else "strftime(ts, '%Y-%m-%d %H:%M:%S')"
    )
    o1, o2 = "CAST(user_id % 250 AS BIGINT)", "CAST(event_id % 250 AS BIGINT)"
    sport = "CAST(event_id % 60000 + 1024 AS BIGINT)"
    status = ("CAST(CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 200 "
              "WHEN 1 THEN 404 ELSE 503 END AS BIGINT)")
    eid = "CAST(event_id % 1000 AS BIGINT)"
    url = f"""CASE CAST(event_id % 4 AS INT)
 WHEN 0 THEN printf('/qos/file%d.txt', {eid})
 WHEN 1 THEN printf('/products/%d?q=a+b', {eid})
 WHEN 2 THEN printf('/x/y.%d.html', {eid})
 ELSE '-' END"""
    return f"""printf('%s 10.1.%d.%d %d 192.168.7.9 80 HTTP/1.1 %s %s %d - Reason_%d -',
 {iso}, {o1}, {o2}, {sport},
 CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' ELSE 'DELETE' END,
 {url}, {status}, CAST(event_id % 7 AS BIGINT))"""


@register(
    "module_iis_error",
    f"""
WITH expected AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN 'success' ELSE 'failure' END AS outcome,
         CASE CAST(user_id % 3 AS INT) WHEN 0 THEN 'GET'
              WHEN 1 THEN 'POST' ELSE 'DELETE' END AS method,
         CASE CAST(event_id % 4 AS INT)
              WHEN 0 THEN printf('/qos/file%d.txt', CAST(event_id % 1000 AS BIGINT))
              WHEN 1 THEN printf('/products/%d', CAST(event_id % 1000 AS BIGINT))
              WHEN 2 THEN printf('/x/y.%d.html', CAST(event_id % 1000 AS BIGINT))
              END AS path,
         CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'txt'
              WHEN 2 THEN 'html' END AS ext,
         CASE WHEN event_id % 4 = 1 THEN 'q=a+b' END AS query,
         printf('10.1.%d.%d', user_id % 250, event_id % 250) AS src_ip,
         CAST(event_id % 60000 + 1024 AS BIGINT) AS sport,
         printf('Reason_%d', event_id % 7) AS reason,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso
  FROM events
)
SELECT outcome, method, count(*) AS n_rows,
       count(path) AS n_path, count(ext) AS n_ext, count(query) AS n_query,
       min(path) AS min_path, max(path) AS max_path,
       count(DISTINCT ext) AS n_ext_kinds,
       count(DISTINCT reason) AS n_reasons,
       CAST(sum(sport) AS BIGINT) AS sum_sport,
       min(ts_iso) AS min_ts, max(ts_iso) AS max_ts
FROM expected GROUP BY 1, 2
""",
)
def q_module_iis_error(spark, sf_dir):
    """The iis.error module pipeline (modules.py; golden parity vs all three
    reference logs pinned in tests/test_modules.py) over synthesized
    HTTP-API error lines; the oracle derives outcome, uri_parts
    (path/extension/query), source ip/port and the timestamp chain
    independently from the event columns each line was printed from."""
    from beats_spark.modules import iis_error

    # single-row-group test parquet = 1 scan split; widen so the
    # vectorized UDF bank below runs core-wide (no-op on real multi-
    # split sources) — see beats_spark.scale.widen_scan
    ev = widen_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    lines = ev.selectExpr(f"{_iis_error_line_sql('spark')} AS message")
    out = iis_error(lines)
    return out.groupBy(
        F.col("event_outcome").alias("outcome"),
        F.col("parsed")["http_request_method"].alias("method"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.count("url_path").alias("n_path"),
        F.count("url_extension").alias("n_ext"),
        F.count("url_query").alias("n_query"),
        F.min("url_path").alias("min_path"),
        F.max("url_path").alias("max_path"),
        F.countDistinct("url_extension").alias("n_ext_kinds"),
        F.countDistinct(F.col("parsed")["iis_error_reason_phrase"]).alias("n_reasons"),
        F.sum(F.col("parsed")["source_port"]).alias("sum_sport"),
        F.min(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("min_ts"),
        F.max(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("max_ts"),
    )


def _pensando_line_sql(dialect: str) -> str:
    """Deterministic Pensando DSC firewall syslog lines (RFC-5424 header +
    JSON payload) from the events table."""
    iso = (
        "date_format(ts, 'yyyy-MM-dd\\'T\\'HH:mm:ss')"
        if dialect == "spark"
        else "strftime(ts, '%Y-%m-%dT%H:%M:%S')"
    )
    proto = ("CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'TCP' "
             "WHEN 1 THEN 'UDP' ELSE 'ICMP' END")
    act = "CASE WHEN event_id % 2 = 0 THEN 'allow' ELSE 'deny' END"
    return f"""printf('<14>1 %sZ esx01-dsc pen-tmagent 1402  - [{{"time":"%sZ","destaddr":"10.29.%d.%d","destport":%d,"srcaddr":"10.30.%d.%d","srcport":%d,"protocol":"%s","action":"%s","direction":"from-host","rule-id":%d,"session-id":%d,"session-state":"flow_create"}}]',
 {iso}, {iso},
 CAST(user_id % 200 AS BIGINT), CAST(event_id % 200 AS BIGINT),
 CAST(CASE WHEN event_id % 2 = 0 THEN 80 ELSE 443 END AS BIGINT),
 CAST(event_id % 200 AS BIGINT), CAST(user_id % 200 AS BIGINT),
 CAST(event_id % 60000 + 1024 AS BIGINT),
 {proto}, {act},
 CAST(event_id % 100000 AS BIGINT), CAST(event_id AS BIGINT))"""


@register(
    "module_pensando_dfw",
    """
WITH expected AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'allowed' ELSE 'denied' END AS action,
         lower(CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'TCP'
               WHEN 1 THEN 'UDP' ELSE 'ICMP' END) AS transport,
         printf('10.30.%d.%d', event_id % 200, user_id % 200) AS client,
         printf('10.29.%d.%d', user_id % 200, event_id % 200) AS server,
         CASE WHEN event_id % 3 = 2 THEN '0'
              WHEN event_id % 2 = 0 THEN '80' ELSE '443' END AS server_port,
         CAST(event_id % 60000 + 1024 AS BIGINT) AS sport,
         CAST(event_id AS BIGINT) AS sid,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso
  FROM events
)
SELECT action, transport, 'success' AS outcome, count(*) AS n_rows,
       count(client) AS n_client, count(server) AS n_server,
       count(DISTINCT server_port) AS n_server_ports,
       min(server_port) AS min_server_port,
       CAST(sum(sport) AS BIGINT) AS sum_sport,
       min(sid) AS min_sid, max(sid) AS max_sid,
       min(ts_iso) AS min_ts, max(ts_iso) AS max_ts
FROM expected GROUP BY 1, 2
""",
)
def q_module_pensando_dfw(spark, sf_dir):
    """The pensando.dfw module pipeline (modules.py; golden parity pinned in
    tests/test_modules.py) over synthesized RFC-5424 firewall lines: the
    oracle independently derives the client/server classification (src port
    is always ephemeral > dest, ICMP pins server_port '0'), the
    allow/deny → allowed/denied action map and the payload timestamp
    chain."""
    from beats_spark.modules import pensando_dfw

    # single-row-group test parquet = 1 scan split; widen so the
    # vectorized UDF bank below runs core-wide (no-op on real multi-
    # split sources) — see beats_spark.scale.widen_scan
    ev = widen_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    lines = ev.selectExpr(f"{_pensando_line_sql('spark')} AS message")
    out = pensando_dfw(lines)
    return out.groupBy(
        F.col("event_action").alias("action"),
        F.col("network_transport").alias("transport"),
        F.col("event_outcome").alias("outcome"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.count("client_ip").alias("n_client"),
        F.count("server_ip").alias("n_server"),
        F.countDistinct("server_port").alias("n_server_ports"),
        F.min("server_port").alias("min_server_port"),
        F.sum("pensando_dfw_source_port").alias("sum_sport"),
        F.min("pensando_dfw_session_id").alias("min_sid"),
        F.max("pensando_dfw_session_id").alias("max_sid"),
        F.min(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("min_ts"),
        F.max(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("max_ts"),
    )


# deterministic SLOWLOG GET reply rows from the events table — four
# arg-shape classes by event_id % 4 exercising every branch of the
# harvester's cmd/key/args split (1/2/4-arg vectors)
_SLOWLOG_REPLY_EXPRS = [
    "CAST(event_id AS BIGINT) AS id",
    "unix_timestamp(ts) AS ts_epoch",
    "CAST(event_id % 50000 + 13 AS BIGINT) AS duration_us",
    """CASE CAST(event_id % 4 AS INT)
         WHEN 0 THEN array('get', printf('user:%d', user_id))
         WHEN 1 THEN array('setex', printf('sess:%d', event_id % 1000),
                           '60', event_type)
         WHEN 2 THEN array('ping')
         ELSE array('lrange', printf('queue:%d', user_id % 25), '0',
                    CAST(event_id % 50 AS STRING))
       END AS args""",
    "CASE WHEN user_id % 5 = 0 THEN 'slave' ELSE 'master' END AS role",
]


@register(
    "module_redis_slowlog",
    """
WITH expected AS (
  SELECT CASE CAST(event_id % 4 AS INT)
           WHEN 0 THEN 'get' WHEN 1 THEN 'setex'
           WHEN 2 THEN 'ping' ELSE 'lrange' END AS cmd,
         CASE WHEN user_id % 5 = 0 THEN 'slave' ELSE 'master' END AS role,
         CASE CAST(event_id % 4 AS INT)
           WHEN 0 THEN printf('user:%d', user_id)
           WHEN 1 THEN printf('sess:%d', event_id % 1000)
           WHEN 2 THEN NULL
           ELSE printf('queue:%d', user_id % 25) END AS key,
         CASE WHEN event_id % 4 IN (1, 3) THEN 2 END AS n_tail,
         CASE CAST(event_id % 4 AS INT)
           WHEN 0 THEN printf('get user:%d', user_id)
           WHEN 1 THEN printf('setex sess:%d 60 %s', event_id % 1000, event_type)
           WHEN 2 THEN 'ping'
           ELSE printf('lrange queue:%d 0 %d', user_id % 25, event_id % 50)
         END AS message,
         CAST(event_id % 50000 + 13 AS BIGINT) AS duration_us,
         CAST(event_id AS BIGINT) AS id,
         strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S') AS ts_iso
  FROM events
)
SELECT cmd, role, count(*) AS n_rows,
       count(key) AS n_keys, count(DISTINCT key) AS n_distinct_keys,
       CAST(sum(coalesce(n_tail, 0)) AS BIGINT) AS total_tail_args,
       CAST(sum(duration_us) AS BIGINT) AS total_us,
       min(message) AS min_msg, max(message) AS max_msg,
       min(id) AS min_id, max(id) AS max_id,
       min(ts_iso) AS min_ts, max(ts_iso) AS max_ts
FROM expected GROUP BY 1, 2
""",
)
def q_module_redis_slowlog(spark, sf_dir):
    """The redis.slowlog structured fileset (modules.py redis_slowlog;
    harvester split semantics pinned by
    tests/test_modules.py::test_redis_slowlog_harvester_vectors) over
    synthesized SLOWLOG GET replies. The oracle re-derives cmd/key/tail
    lengths/message per arg-shape class straight from the event columns,
    never touching the array logic under test."""
    from beats_spark.modules import redis_slowlog

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    replies = ev.selectExpr(*_SLOWLOG_REPLY_EXPRS)
    out = redis_slowlog(replies)
    return out.groupBy(
        F.col("redis_slowlog_cmd").alias("cmd"),
        F.col("redis_slowlog_role").alias("role"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.count("redis_slowlog_key").alias("n_keys"),
        F.countDistinct("redis_slowlog_key").alias("n_distinct_keys"),
        F.sum(F.coalesce(F.size("redis_slowlog_args"), F.lit(0)))
        .alias("total_tail_args"),
        F.sum("redis_slowlog_duration_us").alias("total_us"),
        F.min("message").alias("min_msg"),
        F.max("message").alias("max_msg"),
        F.min("redis_slowlog_id").alias("min_id"),
        F.max("redis_slowlog_id").alias("max_id"),
        F.min(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("min_ts"),
        F.max(F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss")).alias("max_ts"),
    )


def _repetition_ctes(src: str) -> str:
    """DuckDB CTEs `lf` (dup_line_frac, dup_line_char_frac) and `tg`
    (top_ngram_char_frac) of textops.repetition_features over relation
    `src` (doc_id, text) — shared by the repetition and Gopher oracles."""
    return f"""lines AS (
  SELECT doc_id, t AS ln, count(*) AS c
  FROM (SELECT doc_id, trim(u.ln, ' ') AS t
        FROM {src}, unnest(string_split(text, chr(10))) AS u(ln)) s
  WHERE t != '' GROUP BY 1, 2
),
lf AS (
  SELECT doc_id,
         (sum(c) - count(*)) / sum(c) AS dup_line_frac,
         (sum(len(ln) * c) - sum(len(ln))) / sum(len(ln) * c)
           AS dup_line_char_frac
  FROM lines GROUP BY 1
),
grams AS (
  SELECT doc_id, ln AS total_len, g, count(*) AS c
  FROM (SELECT doc_id, len(trim(text, ' ')) AS ln,
               unnest({X.word_ngrams_sql("toks", 2, guarded=False)}) AS g
        FROM (SELECT doc_id, text, {X.tokens_sql("text")} AS toks
              FROM {src}) s0) s
  GROUP BY 1, 2, 3
),
tg AS (
  SELECT doc_id,
         CASE WHEN total_len > 0
              THEN c * len(g) / CAST(total_len AS DOUBLE) ELSE 0.0 END
           AS top_ngram_char_frac
  FROM (SELECT *, row_number() OVER
          (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn FROM grams)
  WHERE rn = 1
)"""


@register(
    "repetition_quality",
    f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN
           text || chr(10) || substr(text, 1, 40)
                || chr(10) || substr(text, 1, 40)
         ELSE text END AS text
  FROM documents WHERE text IS NOT NULL AND doc_id < 1000
),
{_repetition_ctes('docs2')},
feats AS (
  SELECT d.doc_id,
         coalesce(lf.dup_line_frac, 0.0) AS dup_line_frac,
         coalesce(lf.dup_line_char_frac, 0.0) AS dup_line_char_frac,
         coalesce(tg.top_ngram_char_frac, 0.0) AS top_ngram_char_frac
  FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
  LEFT JOIN lf USING (doc_id) LEFT JOIN tg USING (doc_id)
)
SELECT count(*) AS n_docs,
       round(avg(dup_line_frac), 6) AS avg_dup_line_frac,
       round(avg(dup_line_char_frac), 6) AS avg_dup_char_frac,
       round(avg(top_ngram_char_frac), 6) AS avg_top_ngram_frac,
       count(CASE WHEN dup_line_frac > 0.3 THEN 1 END) AS n_line_repetitive,
       count(CASE WHEN top_ngram_char_frac > 0.2 THEN 1 END)
         AS n_ngram_repetitive
FROM feats
""",
)
def q_repetition_quality(spark, sf_dir):
    """Gopher repetition-rule features (textops.repetition_features) over
    the documents table, with the Gopher filter thresholds (dup_line_frac
    > 0.3, top 2-gram char fraction > 0.2) counted; the oracle recomputes
    every signal from scratch in DuckDB (independent line/gram pipeline,
    window arg-max instead of struct-max)."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 1000
    )
    docs2 = docs.where(F.col("text").isNotNull()).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat_ws(
                "\n", F.col("text"),
                F.substring(F.col("text"), 1, 40),
                F.substring(F.col("text"), 1, 40),
            ),
        ).otherwise(F.col("text")),
    )
    out = X.repetition_features(docs2)
    out = docs.select("doc_id").join(
        out.select("doc_id", "dup_line_frac", "dup_line_char_frac",
                   "top_ngram_char_frac"),
        "doc_id", "left",
    ).fillna(0.0)
    return out.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("dup_line_frac"), 6).alias("avg_dup_line_frac"),
        F.round(F.avg("dup_line_char_frac"), 6).alias("avg_dup_char_frac"),
        F.round(F.avg("top_ngram_char_frac"), 6).alias("avg_top_ngram_frac"),
        F.count(F.when(F.col("dup_line_frac") > 0.3, 1))
        .alias("n_line_repetitive"),
        F.count(F.when(F.col("top_ngram_char_frac") > 0.2, 1))
        .alias("n_ngram_repetitive"),
    )


@register(
    "decontaminate",
    f"""
WITH toks AS (
  SELECT doc_id, {X.tokens_sql("text")} AS t
  FROM documents WHERE text IS NOT NULL AND doc_id < 1500
),
grams AS (
  SELECT doc_id, unnest(list_distinct({X.word_ngrams_sql("t", 13, guarded=False)})) AS g
  FROM toks
),
probe AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0
),
flags AS (
  SELECT t.doc_id,
         t.doc_id IN (SELECT DISTINCT doc_id FROM grams
                      WHERE g IN (SELECT g FROM probe)) AS contaminated
  FROM toks t
)
SELECT contaminated, count(*) AS n_docs,
       min(doc_id) AS min_id, max(doc_id) AS max_id,
       CAST(sum(doc_id) AS BIGINT) AS sum_id
FROM flags GROUP BY 1
""",
)
def q_decontaminate(spark, sf_dir):
    """13-gram benchmark decontamination (dedup.decontaminate): the probe
    set is the doc_id % 7 == 0 slice standing in for an eval benchmark;
    every doc sharing a 13-gram with it is flagged (probe docs flag
    themselves — trivially contaminated). Oracle: DuckDB recomputes the
    overlap on gram STRINGS while Spark joins on xxhash64(gram) — equal
    flags unless a 64-bit collision manufactures a false positive."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 1500
    ).where(F.col("text").isNotNull())
    probe = docs.where(F.col("doc_id") % 7 == 0)
    out = D.decontaminate(docs, probe, n=13)
    return out.groupBy("contaminated").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").alias("sum_id"),
    )


_GOPHER_ORACLE = """
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND doc_id < 1000
),
q AS (
  SELECT doc_id,
         {n_tokens} AS n_tokens,
         {mean_word_len} AS mean_word_len,
         {punct_ratio} AS punct_ratio,
         {stopword_hits} AS stopword_hits
  FROM base
),
{repetition},
flags AS (
  SELECT q.doc_id,
         q.n_tokens < 50 AS too_few_words,
         q.n_tokens > 100000 AS too_many_words,
         q.mean_word_len < 3.0 OR q.mean_word_len > 10.0 AS bad_mwl,
         q.punct_ratio > 0.2 AS punct_heavy,
         q.stopword_hits < 2 AS few_stop,
         coalesce(lf.dup_line_frac, 0.0) > 0.3 AS dup_lines,
         coalesce(lf.dup_line_char_frac, 0.0) > 0.2 AS dup_chars,
         coalesce(tg.top_ngram_char_frac, 0.0) > 0.2 AS rep_ngram
  FROM q LEFT JOIN lf USING (doc_id) LEFT JOIN tg USING (doc_id)
)
SELECT count(*) AS n_docs,
       count(CASE WHEN NOT (too_few_words OR too_many_words OR bad_mwl
                   OR punct_heavy OR few_stop OR dup_lines OR dup_chars
                   OR rep_ngram) THEN 1 END) AS n_keep,
       count(CASE WHEN too_few_words THEN 1 END) AS n_too_few_words,
       count(CASE WHEN bad_mwl THEN 1 END) AS n_bad_mwl,
       count(CASE WHEN punct_heavy THEN 1 END) AS n_punct_heavy,
       count(CASE WHEN few_stop THEN 1 END) AS n_few_stop,
       count(CASE WHEN rep_ngram THEN 1 END) AS n_rep_ngram
FROM flags
"""


_gf = X.quality_features_sql("text")
_GOPHER_ORACLE = _GOPHER_ORACLE.format(
    n_tokens=_gf["n_tokens"], mean_word_len=_gf["mean_word_len"],
    punct_ratio=_gf["punct_ratio"], stopword_hits=_gf["stopword_hits"],
    repetition=_repetition_ctes("base"),
)


@register("gopher_filter", _GOPHER_ORACLE)
def q_gopher_filter(spark, sf_dir):
    """Composite Gopher-rule keep/drop filter (textops.gopher_filter) over
    the documents table; oracle independently recomputes every signal AND
    every threshold in DuckDB and compares keep + per-reason counts."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") < 1000) & F.col("text").isNotNull()
    )
    out = X.gopher_filter(docs)
    has = lambda r: F.array_contains(F.col("drop_reasons"), r)
    return out.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("keep"), 1)).alias("n_keep"),
        F.count(F.when(has("too_few_words"), 1)).alias("n_too_few_words"),
        F.count(F.when(has("mean_word_len_out_of_range"), 1)).alias("n_bad_mwl"),
        F.count(F.when(has("punct_heavy"), 1)).alias("n_punct_heavy"),
        F.count(F.when(has("too_few_stopwords"), 1)).alias("n_few_stop"),
        F.count(F.when(has("repeated_ngram"), 1)).alias("n_rep_ngram"),
    )


_pii = X.pii_redact_sql("text")

@register(
    "pii_redact",
    f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN t2 || ' src=10.' || (doc_id % 200)
                || '.3.7 ssn 123-45-6789' ELSE t2 END AS text
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN text || ' Contact user'
                      || doc_id || '@example.com or call 415-555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
                    ELSE text END AS t2
        FROM documents WHERE text IS NOT NULL AND doc_id < 2000)
)
SELECT doc_id, {_pii['n_email']} AS n_email, {_pii['n_ssn']} AS n_ssn,
       {_pii['n_ipv4']} AS n_ipv4, {_pii['n_phone']} AS n_phone,
       md5({_pii['redacted']}) AS red_md5
FROM base
""",
)
def q_pii_redact(spark, sf_dir):
    """PII scrub-and-count (textops.pii_redact): emails / SSNs / IPv4s /
    phone numbers redacted by an ordered regexp_replace chain, counts per
    kind taken on the progressively-redacted text. PII is synthesized
    deterministically into the docs (doc_id % 3 → email+phone, % 5 → ip+ssn)
    identically on both sides; the oracle re-runs the chain in DuckDB/RE2
    and compares per-doc counts plus an md5 of the redacted text. Map-only
    scan, whole-stage codegen, no shuffle — the 100-TB shape."""

    doc = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (doc < 2000) & F.col("text").isNotNull()
    )
    t2 = F.when(
        doc % 3 == 0,
        F.concat(
            F.col("text"), F.lit(" Contact user"), doc.cast("string"),
            F.lit("@example.com or call 415-555-"),
            F.lpad((doc % 10000).cast("string"), 4, "0"), F.lit("."),
        ),
    ).otherwise(F.col("text"))
    injected = F.when(
        doc % 5 == 0,
        F.concat(t2, F.lit(" src=10."), (doc % 200).cast("string"),
                 F.lit(".3.7 ssn 123-45-6789")),
    ).otherwise(t2)
    out = X.pii_redact(docs.withColumn("text", injected))
    return out.select(
        "doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone",
        F.md5("redacted").alias("red_md5"),
    )


_c4 = X.c4_clean_sql("text")

@register(
    "c4_clean",
    f"""
WITH base AS (
  SELECT doc_id,
         'The first line has exactly enough words to stay.' || chr(10)
         || substr(text, 1, 60) || chr(10)
         || 'A second good line with plenty of words ends here!' || chr(10)
         || CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum'
                 ELSE 'A third keeper line with plenty of words right here.'
            END || chr(10)
         || CASE WHEN doc_id % 11 = 0
                 THEN 'This javascript heavy line still has many words today.'
                 ELSE 'Yet another keeper line with sufficient words included.'
            END AS text
  FROM documents WHERE text IS NOT NULL AND doc_id < 2000
)
SELECT doc_id, {_c4['n_lines_kept']} AS n_lines_kept,
       {_c4['keep']} AS keep, md5({_c4['cleaned']}) AS clean_md5
FROM base
""",
)
def q_c4_clean(spark, sf_dir):
    """C4-style line/page cleaning (textops.c4_clean, Raffel et al. 2020
    public rules): terminal-punctuation + ≥5-word + no-javascript line
    filter, lorem-ipsum / curly-brace / <3-surviving-lines page drop.
    Pages are synthesized deterministically (doc text as a mid line that
    usually lacks terminal punctuation; doc_id % 7 plants lorem ipsum,
    % 11 a javascript line) identically on both sides; oracle compares
    per-doc kept-line count, keep flag, and md5 of the cleaned text."""

    doc = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (doc < 2000) & F.col("text").isNotNull()
    )
    page = F.concat_ws(
        "\n",
        F.lit("The first line has exactly enough words to stay."),
        F.substring(F.col("text"), 1, 60),
        F.lit("A second good line with plenty of words ends here!"),
        F.when(doc % 7 == 0, F.lit("lorem ipsum")).otherwise(
            F.lit("A third keeper line with plenty of words right here.")
        ),
        F.when(
            doc % 11 == 0,
            F.lit("This javascript heavy line still has many words today."),
        ).otherwise(
            F.lit("Yet another keeper line with sufficient words included.")
        ),
    )
    out = X.c4_clean(docs.withColumn("text", page))
    return out.select(
        "doc_id", "n_lines_kept", "keep",
        F.md5("cleaned").alias("clean_md5"),
    )


_url = X.url_blocklist_sql()

@register(
    "url_blocklist",
    f"""
WITH base AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 4 = 0
                 THEN ' see https://ads.Tracker.example/p?i=' || doc_id
                 ELSE '' END
         || CASE WHEN doc_id % 9 = 0
                 THEN ' and https://good.example.org/path' ELSE '' END
         || CASE WHEN doc_id % 12 = 0
                 THEN ' plus http://seo-farm.example/' ELSE '' END AS text
  FROM documents WHERE text IS NOT NULL AND doc_id < 2000
)
SELECT doc_id, len({_url['url_hosts']}) AS n_hosts,
       {_url['url_hosts']}[1] AS first_host,
       {_url['blocked_url']} AS blocked_url
FROM base
""",
)
def q_url_blocklist(spark, sf_dir):
    """URL/domain blocklist flag (textops.url_blocklist_flag): hosts of
    every http(s) URL extracted and matched against a blocklist compiled
    into the plan as one alternation regex (suffix semantics: subdomains
    of a blocked domain are blocked) — zero joins, map-only, the same
    InSet-in-plan strategy as registered_domain. URLs are synthesized
    deterministically (% 4 → blocked tracker w/ case-folding, % 9 → clean
    host, % 12 → blocked bare host); oracle compares host count, first
    host, and the flag per doc."""

    doc = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (doc < 2000) & F.col("text").isNotNull()
    )
    injected = F.concat(
        F.col("text"),
        F.when(doc % 4 == 0,
               F.concat(F.lit(" see https://ads.Tracker.example/p?i="),
                        doc.cast("string"))).otherwise(F.lit("")),
        F.when(doc % 9 == 0,
               F.lit(" and https://good.example.org/path")).otherwise(F.lit("")),
        F.when(doc % 12 == 0,
               F.lit(" plus http://seo-farm.example/")).otherwise(F.lit("")),
    )
    out = X.url_blocklist_flag(docs.withColumn("text", injected))
    return out.select(
        "doc_id", F.size("url_hosts").alias("n_hosts"),
        F.try_element_at("url_hosts", F.lit(1)).alias("first_host"),
        "blocked_url",
    )


_SPAN_COMMON = (" Common alpha sentence one. Common beta sentence two."
                " Common gamma sentence three.")

@register(
    "span_dedup",
    "SELECT doc_id, n_sentences, n_removed, md5(deduped) AS dedup_md5 FROM ("
    + D.span_dedup_oracle(
        table=(
            "(SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN text || '"
            + _SPAN_COMMON + "' ELSE text END AS text"
            " FROM documents WHERE doc_id < 2000) s"
        )
    )
    + ")",
)
def q_span_dedup(spark, sf_dir):
    """C4 three-sentence-span global dedup (dedup.span_dedup): every doc_id
    % 6 doc gets the same planted 3-sentence tail, so its spans duplicate
    corpus-wide and all but the first occurrence lose those sentences. The
    oracle is an independent algorithm (window row_number first-occurrence
    over span STRINGS vs Spark's min-struct aggregation over xxhash64) —
    per-doc sentence counts, removed counts, and md5 of the rebuilt text
    must all agree."""

    doc = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (doc < 2000) & F.col("text").isNotNull()
    )
    injected = F.when(
        doc % 6 == 0, F.concat(F.col("text"), F.lit(_SPAN_COMMON))
    ).otherwise(F.col("text"))
    out = D.span_dedup(docs.withColumn("text", injected))
    return out.select(
        "doc_id", "n_sentences", "n_removed",
        F.md5("deduped").alias("dedup_md5"),
    )


_MIX_RATES = {"src1": 1.0, "src2": 0.5, "src3": 0.25, "src4": 0.1}

@register(
    "stratified_sample",
    "SELECT source, count(*) AS n_docs, "
    "count(CASE WHEN "
    + SM.stratified_sample_sql(_MIX_RATES, salt="mix-v1", default_rate=0.75)
    + " THEN 1 END) AS n_kept FROM documents GROUP BY source",
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source sampling (sampling.stratified_sample) —
    the training-mix step: each source stratum keeps its own rate, the
    decision is md5(id:salt)-thresholded so it is identical on any
    partitioning/engine. Oracle recomputes every decision in DuckDB and
    compares per-source kept counts (md5 of identical input strings is
    engine-independent, so counts match exactly, not statistically)."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = SM.stratified_sample(docs, _MIX_RATES, salt="mix-v1",
                               default_rate=0.75)
    return out.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("sampled"), 1)).alias("n_kept"),
    )


@register(
    "stratified_topn",
    "SELECT doc_id, source FROM ("
    + SM.stratified_topn_sql(10, salt="quota-v1")
    + ") q",
)
def q_stratified_topn(spark, sf_dir):
    """Exact-count quota sampling: precisely 10 docs per source stratum,
    picked as the 10 smallest md5(id:salt) prefixes — uniform, stable
    under repartitioning AND under corpus growth. The oracle reselects
    the identical rows in DuckDB, so this is a row-set equality on the
    actual sample, not a count check. One exchange on source; per-group
    top-N window, no global sort."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return SM.stratified_topn(docs, 10, salt="quota-v1").select(
        "doc_id", "source"
    )


@register(
    "pack_sequences",
    PK.packing_oracle_sql(
        "SELECT doc_id, " + X.token_count_sql("text")
        + " AS n_tokens FROM documents"
        " WHERE text IS NOT NULL AND doc_id < 2000",
        capacity=512, bucket_chars=1,
    ),
)
def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (packing.pack_sequences): docs are
    hash-bucketed by an md5 prefix of doc_id and next-fit packed into
    512-token training sequences inside applyInPandas. The oracle replays
    the identical deterministic spec with a DuckDB recursive CTE
    (sequential replay vs Spark's bucketed parallel pass) and compares
    every doc's bucket, truncated token count, bin and seq_id."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") < 2000) & F.col("text").isNotNull()
    )
    toks = X.token_count(docs).select("doc_id", "n_tokens")
    out = PK.pack_sequences(toks, capacity=512, bucket_chars=1)
    return out.select("doc_id", "bucket", "packed_tokens", "bin", "seq_id")


@register(
    "chunk_documents",
    "SELECT doc_id, chunk_idx, n_doc_tokens, n_chunk_tokens,"
    " md5(chunk_text) AS chunk_md5 FROM ("
    + PK.chunk_documents_sql(max_tokens=64, overlap=8,
                             where="doc_id < 1500")
    + ")",
)
def q_chunk_documents(spark, sf_dir):
    """Overlapping token chunking (packing.chunk_documents): long docs
    split into ≤64-token chunks with 8 tokens of repeated context — the
    upstream of pack_sequences. Map-only (in-array slices + one
    posexplode); oracle rebuilds every chunk with DuckDB list slicing and
    compares per-chunk token counts + md5 of the chunk text."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") < 1500) & F.col("text").isNotNull()
    )
    out = PK.chunk_documents(docs, max_tokens=64, overlap=8)
    return out.select(
        "doc_id", "chunk_idx", "n_doc_tokens", "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


@register(
    "normalize_unicode",
    "SELECT doc_id, md5("
    + X.normalize_unicode_sql(
        "(CASE WHEN doc_id % 3 = 0 THEN text || ' Cafe' || chr(769)"
        " || chr(7) || ' fin' ELSE text END)"
    )
    + ") AS norm_md5, length("
    + X.normalize_unicode_sql(
        "(CASE WHEN doc_id % 3 = 0 THEN text || ' Cafe' || chr(769)"
        " || chr(7) || ' fin' ELSE text END)"
    )
    + ") AS norm_len FROM documents"
    " WHERE text IS NOT NULL AND doc_id < 2000",
)
def q_normalize_unicode(spark, sf_dir):
    """Unicode NFC normalization + control strip (textops.normalize_unicode,
    Arrow pandas_udf over Series.str.normalize): docs get a decomposed
    combining-acute sequence and a BEL control char planted (doc_id % 3),
    which NFC must compose and the strip must remove. Oracle: DuckDB's
    native nfc_normalize over the identical injection — md5 and codepoint
    length of the normalized text compared per doc."""

    doc = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (doc < 2000) & F.col("text").isNotNull()
    )
    injected = F.when(
        doc % 3 == 0,
        F.concat(F.col("text"), F.lit(" Café\x07 fin")),
    ).otherwise(F.col("text"))
    out = X.normalize_unicode(docs.withColumn("text", injected))
    return out.select(
        "doc_id",
        F.md5("norm_text").alias("norm_md5"),
        F.length("norm_text").alias("norm_len"),
    )


_FUNNEL_RATES = {"src1": 1.0, "src2": 0.35, "src3": 0.0}

def _funnel_oracle() -> str:
    c4 = X.c4_clean_sql("norm_text")
    qf = X.quality_features_sql("cleaned")
    samp = SM.stratified_sample_sql(_FUNNEL_RATES, salt="funnel",
                                    default_rate=0.8)
    normkey = X.normalize_text_sql("cleaned")
    return f"""
WITH base AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 13 = 0 THEN t2 || ' lorem ipsum' ELSE t2 END
           AS text
  FROM (
    SELECT doc_id, source,
           regexp_replace(
             CASE WHEN doc_id % 9 = 0
                  THEN 'duplicate corpus page about spark rows and tables'
                       || ' repeated for the exact dedup stage to catch'
                  ELSE text END,
             '((\\S+\\s+){{7}}\\S+)\\s*', '\\1. ', 'g') AS t2
    FROM documents WHERE text IS NOT NULL AND doc_id < 3000) s
),
norm AS (
  SELECT doc_id, source,
         array_to_string(
           list_filter(list_transform(
             regexp_extract_all({X.normalize_unicode_sql('text')},
                                '{D.SENTENCE_RE}'), s -> trim(s)),
             s -> s != ''), chr(10)) AS norm_text
  FROM base
),
c4 AS (
  SELECT doc_id, source, {c4['cleaned']} AS cleaned, {c4['keep']} AS f_c4
  FROM norm
),
w AS (
  SELECT doc_id, source, cleaned, f_c4,
         f_c4 AND {qf['n_tokens']} >= 40
              AND {qf['punct_ratio']} <= 0.3 AS f_q
  FROM c4
),
reps AS (
  SELECT {normkey} AS k, min(doc_id) AS keep_id
  FROM w WHERE f_q GROUP BY 1
),
d AS (
  SELECT w.*, coalesce(w.f_q AND w.doc_id = r.keep_id, FALSE) AS f_d
  FROM w LEFT JOIN reps r ON {normkey} = r.k
),
toks AS (
  SELECT doc_id, {X.tokens_sql("cleaned")} AS t
  FROM d WHERE f_d
),
grams AS (
  SELECT doc_id, unnest(list_distinct({X.word_ngrams_sql("t", 8, guarded=False)})) AS g
  FROM toks
),
contam AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE g IN (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0)
),
f AS (
  SELECT d.*, d.f_d AND c.doc_id IS NULL AS f_dec, {samp} AS sampled
  FROM d LEFT JOIN contam c USING (doc_id)
)
SELECT count(*) AS n_input,
       count(CASE WHEN f_c4 THEN 1 END) AS n_c4,
       count(CASE WHEN f_q THEN 1 END) AS n_quality,
       count(CASE WHEN f_d THEN 1 END) AS n_dedup,
       count(CASE WHEN f_dec THEN 1 END) AS n_decontam,
       count(CASE WHEN f_dec AND sampled THEN 1 END) AS n_sampled
FROM f
"""


@register("curation_funnel", _funnel_oracle())
def q_curation_funnel(spark, sf_dir):
    """The training-data pipeline composed end-to-end: Unicode NFC
    normalize → C4 line/page cleaning → quality thresholds → exact dedup
    (first occurrence per normalized text) → 8-gram decontamination
    against a planted probe slice (doc_id % 11 of the dedup survivors) →
    stratified mix sampling. Emits the per-stage survivor funnel in ONE
    pass over the corpus: every stage is a flag column (map-only except
    the dedup key groupBy and the decontamination gram semi-join, both of
    which shuffle bare hashes/ids), so the funnel costs one scan plus two
    small exchanges regardless of stage count. The oracle rebuilds every
    stage from the shared SQL fragments and recomputes all six counts."""

    doc = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (doc < 3000) & F.col("text").isNotNull()
    ).select("doc_id", "source", "text")
    # deterministic structure synthesis (the sf tables are punctuation-free
    # token soup): every 8 tokens become a sentence; doc_id % 9 plants
    # exact duplicates, % 13 plants a lorem-ipsum page drop
    t2 = F.regexp_replace(
        F.when(
            doc % 9 == 0,
            F.lit("duplicate corpus page about spark rows and tables"
                  " repeated for the exact dedup stage to catch"),
        ).otherwise(F.col("text")),
        r"((\S+\s+){7}\S+)\s*", "$1. ",
    )
    docs = docs.withColumn(
        "text",
        F.when(doc % 13 == 0, F.concat(t2, F.lit(" lorem ipsum")))
        .otherwise(t2),
    )
    n = X.normalize_unicode(docs)
    # line-ify: one sentence per line, so the C4 line rules see real lines
    n = n.withColumn(
        "norm_text", F.array_join(D.sentences_expr("norm_text"), "\n")
    )
    c4 = X.c4_clean(n, text_col="norm_text")
    q = X.quality_features(c4.withColumnRenamed("keep", "f_c4"),
                           text_col="cleaned")
    work = q.select(
        "doc_id", "source", "cleaned", "f_c4",
        (F.col("f_c4") & (F.col("n_tokens") >= 40)
         & (F.col("punct_ratio") <= 0.3)).alias("f_q"),
    )
    # dedup reps resolved on bare (hash, id) pairs; BOTH flag joins below
    # key on doc_id so the corpus shuffles once and the second join reuses
    # the partitioning (no exchange between them)
    key = F.sha2(D.normalize_text(F.col("cleaned")), 256)
    # lineage cut: keyed feeds the dedup rep resolution, its own join-back,
    # both decontamination gram sides and the dec join-back — without it
    # the whole normalize→c4→quality chain (including the Arrow
    # normalize UDF) re-executes per consumer (8 FileScans audited; the
    # scan-count audit is what turned the docstring's 'one pass' claim
    # into a checked property)
    from beats_spark.scale import truncate_lineage as _cut

    keyed = _cut(work.withColumn("_k", key))
    reps = (
        keyed.where("f_q").select("_k", "doc_id")
        .groupBy("_k").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id").withColumn("_is_rep", F.lit(True))
    )
    keyed = keyed.join(reps, "doc_id", "left").withColumn(
        "f_d",
        F.coalesce(F.col("f_q") & F.col("_is_rep"), F.lit(False)),
    )
    surv = keyed.where("f_d").select("doc_id", "cleaned")
    probe = surv.where(doc % 11 == 0)
    dec = D.decontaminate(surv, probe, text_col="cleaned",
                          probe_text_col="cleaned", n=8)
    keyed = keyed.join(dec.select("doc_id", "contaminated"), "doc_id", "left")
    keyed = keyed.withColumn(
        "f_dec",
        F.col("f_d") & ~F.coalesce(F.col("contaminated"), F.lit(False)),
    )
    flagged = SM.stratified_sample(keyed, _FUNNEL_RATES, salt="funnel",
                                   default_rate=0.8)
    return flagged.agg(
        F.count("*").alias("n_input"),
        F.count(F.when(F.col("f_c4"), 1)).alias("n_c4"),
        F.count(F.when(F.col("f_q"), 1)).alias("n_quality"),
        F.count(F.when(F.col("f_d"), 1)).alias("n_dedup"),
        F.count(F.when(F.col("f_dec"), 1)).alias("n_decontam"),
        F.count(F.when(F.col("f_dec") & F.col("sampled"), 1))
        .alias("n_sampled"),
    )


def _transcript_curation_oracle() -> str:
    p = X.pii_redact_sql("text")
    kept = "NOT corrupt AND dup_rank = 1"
    return oracle_cte() + f"""
, red AS (
  SELECT conv_id, turn_idx, role,
         {p['n_email']} AS n_email, {p['n_ipv4']} AS n_ipv4,
         {p['n_phone']} AS n_phone, {p['redacted']} AS redacted,
         (text LIKE '!!corrupt%') AS corrupt
  FROM transcripts
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, md5(redacted) ORDER BY turn_idx) AS dup_rank
  FROM red
)
SELECT role, count(*) AS turns,
       CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS corrupt_turns,
       CAST(sum(CASE WHEN NOT corrupt AND dup_rank > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS dup_turns,
       CAST(sum(CASE WHEN {kept} THEN 1 ELSE 0 END) AS BIGINT) AS kept_turns,
       count(DISTINCT CASE WHEN {kept} THEN conv_id END) AS n_convs,
       CAST(sum(n_ipv4) AS BIGINT) AS ipv4_hits,
       CAST(sum(n_email) AS BIGINT) AS email_hits,
       CAST(sum(n_phone) AS BIGINT) AS phone_hits,
       CAST(sum(CASE WHEN {kept} THEN {X.token_count_sql('redacted')} ELSE 0 END)
            AS BIGINT) AS kept_tokens
FROM ranked GROUP BY role
"""


@register("transcript_curation", _transcript_curation_oracle())
def q_transcript_curation(spark, sf_dir):
    """Corpus curation applied to the graft payload itself: the transcript
    table goes through per-turn PII redaction (map-only regexp bank,
    textops.pii_redact), corrupt-turn dead-lettering, and an
    IN-CONVERSATION exact-turn dedup computed AFTER redaction — turns that
    differed only in a scrubbed IP collapse to one survivor, exactly what a
    training pipeline wants. The dedup key is (conv_id, md5(redacted)), so
    the single wide shuffle in the plan is the conv_id repartition the
    north rule prescribes, with the hash component defusing hot
    conversations; the final per-role funnel is a partial-agg groupBy over
    tiny numeric columns. The DuckDB oracle rebuilds every stage from the
    shared pii_redact_sql/token_count_sql fragments."""

    t = load_transcripts(spark, sf_dir)
    r = X.pii_redact(t, text_col="text")
    r = r.withColumn("corrupt", F.col("text").startswith("!!corrupt"))
    w = W.partitionBy("conv_id", F.md5("redacted")).orderBy("turn_idx")
    r = r.withColumn("dup_rank", F.row_number().over(w))
    kept = ~F.col("corrupt") & (F.col("dup_rank") == 1)
    r = X.token_count(r, text_col="redacted")
    return r.groupBy("role").agg(
        F.count("*").alias("turns"),
        F.sum(F.col("corrupt").cast("long")).alias("corrupt_turns"),
        F.sum((~F.col("corrupt") & (F.col("dup_rank") > 1)).cast("long"))
        .alias("dup_turns"),
        F.sum(kept.cast("long")).alias("kept_turns"),
        F.countDistinct(F.when(kept, F.col("conv_id"))).alias("n_convs"),
        F.sum("n_ipv4").alias("ipv4_hits"),
        F.sum("n_email").alias("email_hits"),
        F.sum("n_phone").alias("phone_hits"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .alias("kept_tokens"),
    )


def _transcript_pack_oracle() -> str:
    from beats_spark.data.transcripts import transcripts_select

    src = f"""
SELECT CAST(substr(conv_id, 6) AS BIGINT) AS conv_key,
       CAST(sum({X.token_count_sql('text')}) AS BIGINT) AS n_tokens
FROM ({transcripts_select('duckdb')})
WHERE text NOT LIKE '!!corrupt%'
GROUP BY 1"""
    return PK.packing_oracle_sql(src, capacity=2048, id_col="conv_key",
                                 bucket_chars=1)


@register("transcript_pack", _transcript_pack_oracle())
def q_transcript_pack(spark, sf_dir):
    """Training-sequence assembly from the transcript table: non-corrupt
    turns roll up to a per-conversation token count (partial-agg groupBy on
    conv_id — the pipeline's native shuffle grain), then whole
    conversations are next-fit packed into 2048-token context windows
    (packing.pack_sequences). The conversation TEXT is never concatenated
    or shuffled — whitespace token counts are additive across turns, so
    the pack operates on bare (conv_key, n_tokens) pairs; at 10^12 turns
    the only wide exchange is the same conv-keyed rollup every other stage
    pays. Oracle replays the identical next-fit spec with a recursive CTE
    over the shared transcript derivation."""
    t = load_transcripts(spark, sf_dir)
    kept = t.where(~F.col("text").startswith("!!corrupt"))
    kept = X.token_count(kept, text_col="text", target="_turn_tokens")
    conv = kept.groupBy(
        F.substring("conv_id", 6, 10).cast("long").alias("conv_key")
    ).agg(F.sum("_turn_tokens").alias("n_tokens"))
    out = PK.pack_sequences(conv, capacity=2048, id_col="conv_key",
                            bucket_chars=1)
    return out.select("conv_key", "bucket", "packed_tokens", "bin", "seq_id")


@register(
    "token_vocab",
    f"""
WITH toks AS (
  SELECT u.tok AS token
  FROM (SELECT {X.tokens_sql("text")} AS t FROM documents
        WHERE text IS NOT NULL AND doc_id < 4000) s,
       unnest(s.t) AS u(tok)
  WHERE u.tok != ''
)
SELECT token, count(*) AS n
FROM toks GROUP BY token
ORDER BY n DESC, token ASC LIMIT 200
""",
)
def q_token_vocab(spark, sf_dir):
    """Exact top-200 vocabulary over the corpus — the heavy-hitter shape
    every training pipeline needs (vocab builds, stop-word discovery,
    contamination probes). The natural-language token distribution is
    Zipfian, which is exactly what Spark's two-phase aggregate is for:
    partial_count collapses each partition's explode output map-side, so
    the exchange carries one (token, partial_n) row per distinct token per
    partition — the hot token never concentrates on one reducer before
    being pre-summed. The final global top-k is a TakeOrderedAndProject
    (bounded heap, no full sort). Ties broken by token text for a
    deterministic oracle comparison."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") < 4000) & F.col("text").isNotNull()
    )
    toks = docs.select(
        F.explode(X.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(200)
    )


@register(
    "routed_rows",
    oracle_cte()
    + f"""
SELECT {_sink_case_sql()} AS sink, conv_id, turn_idx, role, text
FROM transcripts
""",
)
def q_routed_rows(spark, sf_dir):
    """The north rule's correctness criterion verbatim: per-sink
    ROUTED-ROW equality (not just aggregate counts) with per-turn text
    equality under stable (conv_id, turn_idx) ordering. Every turn that
    leaves the parse → enrich → route DAG is value-hash-compared against
    the oracle's independent first-match-wins CASE derivation — any
    routing misfire, text mutation, or dropped/duplicated row anywhere in
    the DAG flips the hash."""
    routed = full_pipeline(spark, sf_dir)
    return routed.select(
        F.col("_sink").alias("sink"), "conv_id", "turn_idx", "role", "text"
    )


# FNV-32a fold in DuckDB: byte i of the UTF-8 key via hex-digit lookup
# (DuckDB 1.0 cannot cast BLOB->INT, so hex() + strpos does the decode),
# then list_reduce applies h = (h XOR b) * 16777619 mod 2^32 exactly as
# the engine's Column expression (scale.fnv32a) and the Go reference
# (libbeat/outputs/kafka/partition.go:220-277) do.
_FNV_SQL = """
((list_reduce(
    list_prepend(2166136261::BIGINT,
      list_transform(range(1, octet_length(encode(conv_id)) + 1),
        i -> ((strpos('0123456789ABCDEF',
                      substr(hex(encode(conv_id)), cast(2*i-1 as int), 1)) - 1) * 16
            + (strpos('0123456789ABCDEF',
                      substr(hex(encode(conv_id)), cast(2*i as int), 1)) - 1))::BIGINT)),
    (h, b) -> (xor(h, b) * 16777619) % 4294967296
  ) % 2147483648) % 12)
""".strip()


@register(
    "kafka_partition",
    oracle_cte()
    + f"""
SELECT CAST({_FNV_SQL} AS INT) AS partition,
       count(*) AS n, count(DISTINCT conv_id) AS n_keys
FROM transcripts
GROUP BY 1
""",
)
def q_kafka_partition(spark, sf_dir):
    """Kafka hash-partitioner parity, broker-free: every turn's conv_id is
    assigned the partition the reference's FNV-32a fields-hash partitioner
    would pick (scale.kafka_partition ≅ partition.go:242-277), then rows
    and distinct keys per partition roll up. The oracle re-derives the SAME
    assignment in DuckDB from first principles (hex-decoded UTF-8 bytes +
    list_reduce FNV fold), so any drift in byte extraction, the fold
    arithmetic, or hash2Partition's 31-bit masking flips the hash. Pure
    Column expressions — one map-side pass plus a 12-group aggregate."""
    from beats_spark.scale import kafka_partition

    t = load_transcripts(spark, sf_dir)
    t = t.withColumn("partition", kafka_partition(t, ["conv_id"], 12))
    return t.groupBy("partition").agg(
        F.count("*").alias("n"),
        F.countDistinct("conv_id").alias("n_keys"),
    )


@register(
    "script_chain",
    oracle_cte()
    + """
SELECT upper(role) AS role_u, count(*) AS n,
       CAST(sum(CASE WHEN text LIKE '%level=%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_level
FROM transcripts
WHERE upper(role) <> 'SYSTEM'
GROUP BY 1
""",
)
def q_script_chain(spark, sf_dir):
    """The script-program composition surface end-to-end: a `script:
    {processors: [...]}` block (the reference chain-module surface,
    javascript/module/processor/chain.go, minus the JS engine) compiles
    through the same registry as top-level processors — here uppercase +
    add_fields + drop_event chained inside one script step, then an
    aggregate over the surviving rows. The oracle rewrites the chain as
    plain SQL, so a compile-order or when-guard bug in _compile_script
    changes counts."""
    from beats_spark.compiler import compile_pipeline

    t = load_transcripts(spark, sf_dir)
    prog = compile_pipeline([
        {"script": {"processors": [
            {"uppercase": {"fields": ["role"]}},
            {"copy_fields": {"fields": [{"from": "role", "to": "role_u"}]}},
            {"drop_event": {"when": {"equals": {"role_u": "SYSTEM"}}}},
        ]}},
    ])
    out = prog(t)
    return out.groupBy("role_u").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("text").contains("level="), 1).otherwise(0)
        ).cast("bigint").alias("n_level"),
    )


@register(
    "tool_transitions",
    oracle_cte()
    + f"""
, tool_turns AS (
  SELECT conv_id, turn_idx, tool FROM transcripts
  WHERE {IS_TOOL_CALL}
),
chain AS (
  SELECT conv_id, tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool
  FROM tool_turns
)
SELECT prev_tool, tool AS next_tool, count(*) AS n,
       count(DISTINCT conv_id) AS n_convs
FROM chain WHERE prev_tool IS NOT NULL
GROUP BY 1, 2
""",
)
def q_tool_transitions(spark, sf_dir):
    """Agent tool-chain bigrams: which tool follows which within a
    conversation — the transition matrix an agent-transcript analyst
    actually asks for. Tool-call turns are filtered map-side (most turns
    drop before any exchange), then a lag window over the conv_id/turn_idx
    grain — the pipeline's native partitioning — emits (prev, next) pairs,
    and a tiny groupBy rolls up the matrix. Oracle mirrors the filter +
    lag + rollup in DuckDB."""
    t = load_transcripts(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    chain = (
        t.where(IS_TOOL_CALL)
        .select("conv_id", "turn_idx", "tool")
        .withColumn("prev_tool", F.lag("tool").over(w))
        .where(F.col("prev_tool").isNotNull())
    )
    return chain.groupBy(
        "prev_tool", F.col("tool").alias("next_tool")
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


@register(
    "conv_quality",
    oracle_cte()
    + f"""
, lagged AS (
  SELECT conv_id, role, text, tool,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM transcripts
)
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(CASE WHEN prev_role IS NOT NULL AND prev_role <> role
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_role_changes,
       count(DISTINCT role) AS n_roles,
       CAST(sum({{tok}}) AS BIGINT) AS total_tokens,
       CAST(sum({TOOL_CALL_FLAG}) AS BIGINT) AS n_tool_calls,
       (count(*) >= 4 AND
        CAST(sum(CASE WHEN prev_role IS NOT NULL AND prev_role <> role
                      THEN 1 ELSE 0 END) AS BIGINT) * 10
          >= (count(*) - 1) * 3) AS keep
FROM lagged GROUP BY conv_id
""".format(tok=X.token_count_sql("text")),
)
def q_conv_quality(spark, sf_dir):
    """Conversation-level quality gate for transcript corpora: per-conv
    turn count, role-alternation count, distinct roles, token total and
    tool-call total, plus a keep flag (≥4 turns and ≥30% of adjacent turn
    pairs changing speaker — monologue dumps fail). All metrics are exact
    integers and the keep rule is integer arithmetic, so the oracle hash
    can never drift on float rounding. Plan: the lag window and the
    per-conv aggregate share ONE conv_id exchange — Spark reuses the
    window's hashpartitioning for the groupBy, so conversation-grain
    quality costs the same single shuffle every other conv-stage pays."""
    t = load_transcripts(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    x = t.withColumn("prev_role", F.lag("role").over(w))
    x = X.token_count(x, text_col="text", target="_tok")
    changed = (
        F.col("prev_role").isNotNull() & (F.col("prev_role") != F.col("role"))
    ).cast("long")
    per_conv = x.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(changed).alias("n_role_changes"),
        F.countDistinct("role").alias("n_roles"),
        F.sum("_tok").alias("total_tokens"),
        F.sum(F.expr(TOOL_CALL_FLAG)).alias("n_tool_calls"),
    )
    return per_conv.withColumn(
        "keep",
        (F.col("n_turns") >= 4)
        & (F.col("n_role_changes") * 10 >= (F.col("n_turns") - 1) * 3),
    )


@register(
    "asof_enrich",
    oracle_cte(
        """states AS (
  SELECT printf('conv-%06d', user_id) AS conv_id, ts,
         max(event_id % 1000) AS state_val
  FROM events WHERE event_id % 7 = 0 GROUP BY 1, 2
)"""
    )
    + """
SELECT t.conv_id, t.turn_idx, t.role, s.state_val
FROM transcripts t
ASOF LEFT JOIN states s ON t.conv_id = s.conv_id AND t.ts >= s.ts
""",
)
def q_asof_enrich(spark, sf_dir):
    """Point-in-time state enrichment: every turn picks up the latest
    config-update state (a deterministic slice of the events table) at or
    before its timestamp, per conversation — "what was the state when this
    turn happened". Runs through beats_spark.asof.asof_join's union +
    ordered-window formulation: NO join node in the plan, one conv-keyed
    exchange where states interleave with turns in the same sort the
    window already pays. The oracle is DuckDB's NATIVE `ASOF LEFT JOIN` —
    a fully independent implementation of the same point-in-time spec —
    hash-compared row-for-row over all turns including the no-prior-state
    nulls and the equal-timestamp (>=) ties."""
    from beats_spark.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    states = (
        ev.where(F.col("event_id") % 7 == 0)
        .groupBy(
            F.format_string("conv-%06d", "user_id").alias("conv_id"), "ts"
        )
        .agg(F.max(F.col("event_id") % 1000).alias("state_val"))
    )
    turns = load_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "ts"
    )
    out = asof_join(turns, states, on="conv_id", values=["state_val"])
    return out.select("conv_id", "turn_idx", "role", "state_val")


@register(
    "interval_overlap",
    oracle_cte(
        """wins AS (
  SELECT printf('conv-%06d', user_id) AS conv_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS lo,
         CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 60 AS hi,
         event_id AS win_id
  FROM events WHERE event_id % 11 = 0
)"""
    )
    + """
SELECT role, count(*) AS n_pairs,
       count(DISTINCT (t.conv_id, t.turn_idx)) AS n_covered_turns,
       count(DISTINCT w.win_id) AS n_windows_hit,
       CAST(sum(w.win_id % 97) AS BIGINT) AS pair_checksum
FROM transcripts t
JOIN wins w ON t.conv_id = w.conv_id
          AND CAST(floor(epoch(t.ts)) AS BIGINT) BETWEEN w.lo AND w.hi
GROUP BY role
""",
)
def q_interval_overlap(spark, sf_dir):
    """Range join on the graft payload: which turns fall inside per-
    conversation activity windows (a deterministic slice of events opens a
    1-7 minute window). Runs through intervals.interval_join — intervals
    explode into coarse time buckets and the match is a bare
    (conv_id, bucket) EQUI-join with a codegen residual filter, never a
    nested loop. The oracle is DuckDB's own BETWEEN range join — an
    entirely different execution strategy over the same spec — compared on
    pair counts, distinct covered turns, distinct windows hit and a
    checksum over the matched pairs."""
    from beats_spark.intervals import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wins = ev.where(F.col("event_id") % 11 == 0).select(
        F.format_string("conv-%06d", "user_id").alias("conv_id"),
        F.unix_timestamp("ts").alias("lo"),
        (F.unix_timestamp("ts") + (F.col("event_id") % 7 + 1) * 60)
        .alias("hi"),
        F.col("event_id").alias("win_id"),
    )
    turns = load_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "ts"
    )
    out = interval_join(turns, wins, events_ts="ts", lo="lo", hi="hi",
                        on="conv_id", bucket=120)
    return out.groupBy("role").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("conv_id", "turn_idx").alias("n_covered_turns"),
        F.countDistinct("win_id").alias("n_windows_hit"),
        F.sum(F.col("win_id") % 97).alias("pair_checksum"),
    )


@register(
    "state_intervals",
    """
WITH states AS (
  SELECT printf('conv-%06d', user_id) AS conv_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts,
         CAST(event_id % 1000 AS BIGINT) AS state_val,
         event_id
  FROM events WHERE event_id % 7 = 0
),
dedup AS (
  SELECT conv_id, ts, max(state_val) AS state_val
  FROM states GROUP BY 1, 2
)
SELECT conv_id, ts AS valid_from,
       lead(ts) OVER (PARTITION BY conv_id ORDER BY ts) AS valid_to,
       state_val
FROM dedup
""",
)
def q_state_intervals(spark, sf_dir):
    """Change-log → SCD2 validity spans (intervals.validity_intervals):
    each config-update state becomes a [valid_from, valid_to) span closed
    by the key's next update (null = still current). Materialized spans
    are the batch-friendly dual of asof_enrich — build once, then every
    point lookup is an interval_join instead of a per-query as-of window.
    Row-for-row hash compare against DuckDB's lead() over the same
    deduplicated change-log."""
    from beats_spark.intervals import validity_intervals

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    states = (
        ev.where(F.col("event_id") % 7 == 0)
        .groupBy(
            F.format_string("conv-%06d", "user_id").alias("conv_id"),
            F.unix_timestamp("ts").alias("ts"),
        )
        .agg(F.max(F.col("event_id") % 1000).alias("state_val"))
    )
    out = validity_intervals(states, on="conv_id", ts="ts")
    return out.select(
        "conv_id",
        F.col("valid_from"),
        F.col("valid_to"),
        "state_val",
    )


@register(
    "sink_cube",
    oracle_cte()
    + f"""
, mid AS (
  SELECT {_sink_case_sql()} AS sink, role, count(*) AS n
  FROM transcripts GROUP BY 1, 2
)
SELECT coalesce(sink, '<all>') AS sink, coalesce(role, '<all>') AS role,
       CAST(sum(n) AS BIGINT) AS n_turns
FROM mid GROUP BY CUBE (sink, role)
""",
)
def q_sink_cube(spark, sf_dir):
    """Multi-grain routing rollup in one statement: turn counts at
    (sink, role), (sink), (role) and grand-total grains. The scale-correct
    cube: the raw table aggregates ONCE at the finest grain (partial
    map-side combine, one small shuffle), and the 4x Expand of CUBE runs
    over that ~|sinks|x|roles|-row intermediate — never over the corpus.
    A naive routed.cube(...).count() Expands every input row 4x before
    its shuffle. Measured at sf0.1 (1M turns, 2026-08-18): naive 5.75 s
    cold vs mid-grain 2.65 s; WARM runs converge (2.37 vs 2.34 s) because
    the grok stage dominates at this scale — the argument is asymptotic:
    the naive Expand grows linearly with the corpus (3x10^12 extra rows
    at 10^12 turns) while the mid-grain Expand stays O(|sinks|x|roles|)."""
    routed = full_pipeline(spark, sf_dir)
    mid = routed.groupBy(F.col("_sink").alias("sink"), "role").agg(
        F.count("*").alias("n")
    )
    return (
        mid.cube("sink", "role")
        .agg(F.sum("n").alias("n_turns"))
        .select(
            F.coalesce("sink", F.lit("<all>")).alias("sink"),
            F.coalesce("role", F.lit("<all>")).alias("role"),
            "n_turns",
        )
    )


@register(
    "conv_pattern",
    oracle_cte()
    + """
, sigs AS (
  SELECT conv_id,
         string_agg(substr(role, 1, 1), '' ORDER BY turn_idx) AS sig
  FROM transcripts GROUP BY conv_id
)
SELECT count(*) AS n_convs,
       CAST(sum(CASE WHEN regexp_matches(sig, 'ut+a') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tool_loops,
       CAST(sum(CASE WHEN regexp_matches(sig, '^s') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_system_first,
       CAST(sum(CASE WHEN regexp_matches(sig, 'ua') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_direct_answers,
       min(length(sig)) AS min_turns, max(length(sig)) AS max_turns
FROM sigs
""",
)
def q_conv_pattern(spark, sf_dir):
    """MATCH_RECOGNIZE-style sequence analytics, which Spark SQL lacks:
    each conversation collapses to a role-initial signature string in turn
    order (array_sort over (turn_idx, initial) structs — deterministic
    without a window), then ordinary regexps answer "did user → tool+ →
    assistant happen?" over the tiny per-conv strings. One conv-grain
    shuffle carrying (conv_id, turn_idx, 1-char initial) — the text never
    moves — and the pattern scan runs on |convs| rows, not |turns|.
    Oracle: DuckDB ordered string_agg + the same RE2-safe regexps."""
    t = load_transcripts(spark, sf_dir)
    sig = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("turn_idx", F.substring("role", 1, 1).alias("i"))
                )
            ),
            lambda s: s["i"],
        ),
        "",
    )
    sigs = t.groupBy("conv_id").agg(sig.alias("sig"))
    return sigs.agg(
        F.count("*").alias("n_convs"),
        F.sum(F.col("sig").rlike("ut+a").cast("long")).alias("n_tool_loops"),
        F.sum(F.col("sig").rlike("^s").cast("long")).alias("n_system_first"),
        F.sum(F.col("sig").rlike("ua").cast("long")).alias("n_direct_answers"),
        F.min(F.length("sig")).alias("min_turns"),
        F.max(F.length("sig")).alias("max_turns"),
    )


@register(
    "latency_quantiles",
    oracle_cte()
    + """
, gaps AS (
  SELECT role,
         CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
              PARTITION BY conv_id ORDER BY turn_idx))) AS BIGINT) AS gap_s
  FROM transcripts
),
hist AS (
  SELECT role, gap_s, count(*) AS c FROM gaps
  WHERE gap_s IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT role, gap_s, c,
         sum(c) OVER (PARTITION BY role ORDER BY gap_s) AS cum,
         sum(c) OVER (PARTITION BY role) AS n
  FROM hist
)
SELECT role, CAST(max(n) AS BIGINT) AS n_gaps,
       min(CASE WHEN cum >= ceil(n * 0.5) THEN gap_s END) AS p50_s,
       min(CASE WHEN cum >= ceil(n * 0.9) THEN gap_s END) AS p90_s,
       min(CASE WHEN cum >= ceil(n * 0.99) THEN gap_s END) AS p99_s
FROM cum GROUP BY role
""",
)
def q_latency_quantiles(spark, sf_dir):
    """Exact p50/p90/p99 of turn-to-turn latency per role — computed the
    way exact percentiles survive 10^12 rows: NEVER a global sort of raw
    gaps (4 roles would mean 4 monster sort partitions). Instead the gaps
    collapse to a (role, gap_s) histogram first (map-side partial counts —
    latencies are bounded integers, so the histogram is tiny), and the
    quantile is read off the cumulative count with integer ceil
    arithmetic. The discrete definition (smallest value whose cumulative
    count reaches ceil(q·n)) is spelled out identically in the oracle, so
    there is no interpolation or float to drift on."""
    t = load_transcripts(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    g = t.withColumn(
        "gap_s",
        F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)),
    ).filter(F.col("gap_s").isNotNull())
    hist = g.groupBy("role", "gap_s").agg(F.count("*").alias("c"))
    wc = (
        W.partitionBy("role")
        .orderBy("gap_s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "n", F.sum("c").over(W.partitionBy("role"))
    )

    def pick(q):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n") * q), F.col("gap_s"))
        )

    return cum.groupBy("role").agg(
        F.max("n").alias("n_gaps"),
        pick(0.5).alias("p50_s"),
        pick(0.9).alias("p90_s"),
        pick(0.99).alias("p99_s"),
    )


@register(
    "cohort_retention",
    """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS week
  FROM events
),
coh AS (
  SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM uw
)
SELECT cohort_week, week - cohort_week AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM coh GROUP BY 1, 2
""",
)
def q_cohort_retention(spark, sf_dir):
    """The retention triangle: users bucketed by first-seen week, counted
    in every subsequent week they return. One user-grain shuffle does all
    the heavy lifting — raw events pre-aggregate map-side to distinct
    (user, week) pairs, each user's row collapses to (first week,
    week-set) in a single groupBy, and offsets explode from that bounded
    set (≤ #weeks elements) into a tiny (cohort, offset) count. No join
    back to the fact table, no second pass over events. All-integer week
    arithmetic keeps the oracle hash exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    uw = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800).alias("week"),
    ).distinct()
    per_user = uw.groupBy("user_id").agg(
        F.min("week").alias("cohort_week"),
        F.collect_set("week").alias("weeks"),
    )
    exploded = per_user.select(
        "user_id",
        "cohort_week",
        F.explode("weeks").alias("week"),
    ).withColumn("week_offset", F.col("week") - F.col("cohort_week"))
    return exploded.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )


@register(
    "dsir_select",
    "WITH "
    + SM.dsir_weights_sql("lang = 'en'")
    + """
SELECT d.doc_id, w.dsir_weight, d.lang
FROM dsir w JOIN documents d USING (doc_id)
ORDER BY w.dsir_weight DESC, d.doc_id
LIMIT 200
""",
)
def q_dsir_select(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): rank the
    pool by hashed-bigram importance weight against the English slice as
    the target distribution, keep the top 200. Weights are integer-exact
    cross-engine (md5-bucketed bigrams, ×1e6-quantized log-ratios — see
    beats_spark.sampling), so the DuckDB oracle is an equality check, not
    a statistical bound. Plan: one explode of bare (id, bucket) ints, two
    4096-row aggregates, a broadcast ratio join, and TakeOrderedAndProject
    for the top-k — text never shuffles, nothing sorts globally."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = SM.dsir_weights(docs, F.col("lang") == "en")
    return (
        w.join(docs.select("doc_id", "lang"), "doc_id")
        .orderBy(F.col("dsir_weight").desc(), "doc_id")
        .limit(200)
        .select("doc_id", "dsir_weight", "lang")
    )


_SUBSTR_COMMON = (
    " exact substr shared tail alpha beta gamma delta"
    " epsilon zeta eta theta"
)

@register(
    "substr_dedup",
    "SELECT doc_id, n_tokens, n_removed, md5(deduped) AS dedup_md5 FROM ("
    + D.exact_substr_dedup_oracle(
        table=(
            "(SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || '"
            + _SUBSTR_COMMON + "' ELSE text END AS text"
            " FROM documents WHERE doc_id < 2000) s"
        ),
        window=8,
    )
    + ")",
)
def q_substr_dedup(spark, sf_dir):
    """ExactSubstr token-window dedup (Lee et al. 2021 — dedup.
    exact_substr_dedup): every doc_id % 7 doc gets the same planted
    12-token tail, so its 8-token windows duplicate corpus-wide and all
    but the first occurrence lose the covered tokens — duplicates that
    straddle sentence boundaries, invisible to the C4 sentence-span pass
    (span_dedup). The oracle is an independent algorithm (window
    row_number first-occurrence over window STRINGS vs Spark's min-struct
    aggregation over xxhash64) — per-doc token counts, removed counts,
    and md5 of the rebuilt text must all agree."""
    doc = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (doc < 2000) & F.col("text").isNotNull()
    )
    injected = F.when(
        doc % 7 == 0, F.concat(F.col("text"), F.lit(_SUBSTR_COMMON))
    ).otherwise(F.col("text"))
    out = D.exact_substr_dedup(docs.withColumn("text", injected), window=8)
    return out.select(
        "doc_id", "n_tokens", "n_removed",
        F.md5("deduped").alias("dedup_md5"),
    )


_RRF_QVEC = 7

@register(
    "rrf_search",
    f"""
WITH bm25_ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25_score DESC, doc_id)
              AS INTEGER) AS rank
  FROM ({X.bm25_topk_sql(_BM25_TERMS, k=50)})
),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       WHERE vec_id = {_RRF_QVEC}),
cos_p AS (
  SELECT {_RRF_QVEC} AS query_id, q.v AS qv, e.vec_id AS neighbor_id,
         CAST(e.embedding AS DOUBLE[]) AS nv
  FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> {_RRF_QVEC}
),
cos_ranked AS (
  SELECT neighbor_id AS doc_id, rank FROM ({SIM.top_k_sql("cos_p", 50)})
),
contribs AS (
  SELECT doc_id, CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS c
  FROM bm25_ranked
  UNION ALL
  SELECT doc_id, CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS c
  FROM cos_ranked
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score, count(*) AS n_systems
FROM contribs GROUP BY 1
ORDER BY rrf_score DESC, doc_id LIMIT 20
""",
)
def q_rrf_search(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (textops.rrf_fuse):
    the BM25 keyword top-50 and the cosine top-50 neighbors of one query
    embedding (doc_id == vec_id by construction of the test tables) fuse
    as sum(round(1e6/(60+rank))) — integer contributions, so the oracle
    is an exact equality on the fused ranking. Docs in only one list get
    the standard single-system contribution. Plan: both legs end in
    TakeOrderedAndProject; fusion unions two ≤50-row listings — the
    corpus is scanned once per leg and never re-shuffled."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bm25 = X.bm25_topk(docs, _BM25_TERMS, k=50).withColumn(
        "rank",
        F.row_number().over(
            W.orderBy(F.col("bm25_score").desc(), F.col("doc_id"))
        ),
    )
    cos = SIM.cosine_topk(
        embs, embs.filter(F.col("vec_id") == _RRF_QVEC), k=50
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return X.rrf_fuse(
        [bm25.select("doc_id", "rank"), cos], k0=60, k=20
    )


@register(
    "temperature_mix",
    "SELECT doc_id, lang, mix_kept FROM ("
    + SM.temperature_mix_sql(budget=200)
    + ") ORDER BY doc_id",
)
def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled domain mixing at α = 0.5 (sampling.
    temperature_mix — the XLM-R exponential-smoothing rebalance): sampling
    rates DERIVED in-plan from per-language corpus counts (p_g ∝
    sqrt(n_g)), then a deterministic md5-threshold keep per doc. All
    threshold arithmetic is exact integers (floor-quantized sqrt, HUGEINT
    floor division), so the oracle matches the per-row decisions exactly.
    Plan: one corpus groupBy count, a ≤|langs|-row collect, broadcast
    rate join, map-only decision."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return SM.temperature_mix(docs, budget=200).select(
        "doc_id", "lang", "mix_kept"
    )


_URL_VARIANTS = [
    "https://Example.COM:443/path?b=2&a=1#frag",
    "https://example.com/path?a=1&b=2",
    "https://EXAMPLE.com/path?utm_source=x&b=2&a=1",
    "https://example.com/path?b=2&utm_campaign=y&a=1#z",
    "http://other.ORG:80?x=9",
    "http://other.org/?x=9&fbclid=abc",
]

_URL_CASE_SQL = "CASE " + " ".join(
    f"WHEN doc_id % 6 = {i} THEN '{u}'" for i, u in enumerate(_URL_VARIANTS)
) + " END"

@register(
    "url_canonical",
    f"""
WITH urls AS (
  SELECT doc_id, {_URL_CASE_SQL} AS url
  FROM documents WHERE doc_id < 2000
),
canon AS (
  SELECT doc_id, {X.canonicalize_url_sql("url")} AS canon_url FROM urls
)
SELECT canon_url, count(*) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM canon GROUP BY 1
""",
)
def q_url_canonical(spark, sf_dir):
    """URL canonicalization (textops.canonicalize_url — the CC-Net / C4
    URL-dedup prerequisite): six messy variants of two logical URLs
    (case-folded scheme/host, stripped fragments and default ports,
    dropped tracking params, sorted query strings) planted across the
    doc ids must collapse into exactly two canonical groups. Map-only
    Column regexes shared verbatim with the oracle; the groupBy shuffles
    only (canon_url, doc_id) pairs."""
    doc = F.col("doc_id")
    url = F.lit(None).cast("string")
    for i, u in enumerate(_URL_VARIANTS):
        url = F.when(doc % 6 == i, F.lit(u)).otherwise(url)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        doc < 2000
    )
    return (
        docs.select(doc, X.canonicalize_url(url).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.count("*").alias("n_docs"),
             F.min("doc_id").cast("long").alias("first_doc"))
    )


@register(
    "winnow_fingerprint",
    X.winnow_fingerprints_sql(table="(SELECT * FROM documents"
                              " WHERE doc_id < 2000) s"),
)
def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (textops.winnow_fingerprints — Schleimer
    et al. 2003, the MOSS / The-Stack code-dedup scheme): per document,
    the set of per-w-window minimum shingle hashes, guaranteeing any
    shared substring of length >= w+k-1 yields a shared fingerprint.
    doc_fingerprint is the global-min (w = n) special case. Map-only —
    the shingle-hash array materializes once per row, window minima are
    in-array slice+min, no exchange/join/Python. The oracle recomputes
    the identical md5 shingle minima and compares the per-doc
    fingerprint-set digest."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") < 2000) & F.col("text").isNotNull()
    )
    out = X.winnow_fingerprints(docs)
    return out.select(
        "doc_id", "n_fingerprints",
        F.md5(F.array_join("winnow_fps", ",")).alias("fps_md5"),
    )


@register(
    "cdc_chunks",
    X.cdc_chunk_hashes_sql(table="(SELECT * FROM documents"
                           " WHERE doc_id < 2000) s"),
)
def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (textops.cdc_chunk_hashes — the LBFS /
    FastCDC boundary family, Muthitacharoen et al. 2001): cut after
    every k-gram whose hash starts with a zero nibble, so chunk
    boundaries realign after insertions and chunk-level dedup survives
    edits — the chunk-granular complement to substr_dedup (token
    windows) and span_dedup (line spans). Map-only: one md5 per
    position plus one per chunk, all in-array; no exchange, no join,
    no Python. The oracle recomputes the identical boundary set and
    per-chunk digests."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") < 2000) & F.col("text").isNotNull()
    )
    out = X.cdc_chunk_hashes(docs)
    return out.select(
        "doc_id", "n_chunks",
        F.md5(F.array_join("cdc_hashes", ",")).alias("chunks_md5"),
    )


@register("bpe_pairs", X.bpe_pair_stats_sql(top_k=32))
def q_bpe_pairs(spark, sf_dir):
    """BPE tokenizer-training merge selection (textops.bpe_pair_stats —
    Sennrich et al. 2016): corpus-weighted adjacent symbol-pair counts
    over the initial character vocabulary, top-32 by (count desc, pair) —
    the first merge a BPE trainer would make plus the runners-up, as
    exact integers. Plan: the only corpus-scale stage is the
    word-frequency groupBy (map-side combine); pair explosion runs on the
    vocab-sized distinct-word table. The full iterated trainer
    (textops.bpe_learn_merges) is pytest-pinned against a pure-Python
    reference — each iteration touches only the cached vocab table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return X.bpe_pair_stats(docs, top_k=32)


# --------------------------------------------------------------------------
# round 5: oracles for the previously pytest-only operator rows — each of
# these operators had correctness pinned only by unit tests (VERDICT r4 §2
# "pytest" rows); these queries put them through the driver's DuckDB
# value-hash gate as well. Inputs are synthesized DETERMINISTICALLY from the
# transcript columns with dialect-portable printf/concat so both engines
# build byte-identical source strings.
# --------------------------------------------------------------------------


@register(
    "csv_extract",
    oracle_cte()
    + r"""
SELECT conv_id, turn_idx,
       split_part(csv, '|', 1) AS f_role,
       split_part(csv, '|', 3) AS f_tool,
       split_part(text, ' ', 1) AS first_token
FROM (
  SELECT conv_id, turn_idx, text,
         role || '|' || CAST(turn_idx AS VARCHAR) || '|' || coalesce(tool, '~') AS csv
  FROM transcripts
)
""",
)
def q_csv_extract(spark, sf_dir):
    """decode_csv_fields + extract_array + extract_field through the driver
    gate (reference: decode_csv_fields.go, extract_array.go:37-42,
    extract_field.go:50-53). A csv-ish column is synthesized from the
    transcript fields, split back apart with the real operators, and
    compared field-by-field against DuckDB split_part. Map-only codegen —
    no shuffle, no Python."""
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir)
    t = t.withColumn(
        "csv",
        F.concat_ws(
            "|",
            F.col("role"),
            F.col("turn_idx").cast("string"),
            F.coalesce(F.col("tool"), F.lit("~")),
        ),
    )
    t = P.decode_csv_fields(t, "csv", "csv_arr", separator="|")
    t = P.extract_array(t, "csv_arr", {"f_role": 0, "f_tool": 2})
    t = P.extract_field(t, "text", " ", 0, "first_token")
    return t.select("conv_id", "turn_idx", "f_role", "f_tool", "first_token")


@register(
    "duration_parse",
    oracle_cte()
    + """
SELECT conv_id, turn_idx,
       printf('%dh%dm%ds%dms', turn_idx % 5, turn_idx % 59, turn_idx % 60,
              turn_idx % 997) AS dur,
       CAST((turn_idx % 5) * 3600000 + (turn_idx % 59) * 60000
            + (turn_idx % 60) * 1000 + (turn_idx % 997) AS BIGINT) AS dur_ms
FROM transcripts
""",
)
def q_duration_parse(spark, sf_dir):
    """decode_duration through the driver gate (reference uses Go
    time.ParseDuration semantics). The oracle recomputes the expected
    milliseconds from the same integer arithmetic that synthesized the
    duration string — this is the query that would have caught the
    seconds-regex lookbehind bug ('1m30s' → 0s) fixed this round. All
    component values are integers ⇒ the double→long cast is exact.
    Map-only codegen."""
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir)
    t = t.withColumn(
        "dur",
        F.expr(
            "printf('%dh%dm%ds%dms', turn_idx % 5, turn_idx % 59, "
            "turn_idx % 60, turn_idx % 997)"
        ),
    )
    t = P.decode_duration(t, "dur", "dur_ms_d", unit="ms")
    return t.select(
        "conv_id", "turn_idx", "dur", F.col("dur_ms_d").cast("long").alias("dur_ms")
    )


@register(
    "kv_parse",
    oracle_cte()
    + r"""
SELECT conv_id, turn_idx,
       regexp_extract(kvs, 'a=(\w+)', 1) AS kv_a,
       regexp_extract(kvs, 'b=(\w+)', 1) AS kv_b,
       regexp_extract(kvs, 'c=(\w+)', 1) AS kv_c
FROM (
  SELECT conv_id, turn_idx,
         printf('a=%d b=%s a=999 c=%d flag', turn_idx, role, turn_idx % 7) AS kvs
  FROM transcripts
)
""",
)
def q_kv_parse(spark, sf_dir):
    """kv (key=value splitter) through the driver gate (the kv ingest
    processor the auditd module pipeline is built on,
    filebeat/module/auditd/log/ingest/pipeline.yml:23-33). The synthesized
    string carries a DUPLICATE key (a=... twice — first wins, matching the
    regexp_extract oracle's leftmost match) and a valueless token ('flag' —
    dropped). Entirely JVM-side split/transform/map_from_entries."""
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir)
    t = t.withColumn(
        "kvs",
        F.expr("printf('a=%d b=%s a=999 c=%d flag', turn_idx, role, turn_idx % 7)"),
    )
    t = P.kv(t, "kvs", field_split=" ", value_split="=")
    return t.select(
        "conv_id",
        "turn_idx",
        F.col("kv")["a"].alias("kv_a"),
        F.col("kv")["b"].alias("kv_b"),
        F.col("kv")["c"].alias("kv_c"),
    )


@register(
    "mime_detect",
    """
SELECT CASE CAST(doc_id % 5 AS INT)
         WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
         WHEN 2 THEN 'audio/wav' WHEN 3 THEN 'video/mp4'
         ELSE 'image/gif' END AS mime,
       count(*) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       count(*) AS n_meta_match
FROM documents
GROUP BY 1
""",
)
def q_mime_detect(spark, sf_dir):
    """detect_mime_type through the driver gate (actions/
    detect_mime_type.go): magic-byte sniffing as pure codegen CASE over a
    hex prefix of the binary column — no Python in the detect step. The
    oracle recomputes the planted mime from doc_id%5; n_meta_match = n
    proves the sniffed mime agrees with the synthesizer's declared
    meta.content_type on EVERY row (JPEG/PNG/GIF/WAV/MP4 magics all
    exercised)."""
    import beats_spark.multimodal as M

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = M.synthesize_media(docs)
    sniffed = M.detect_media_type(media, "content", target="mime")
    return sniffed.groupBy("mime").agg(
        F.count("*").alias("n"),
        F.sum("media_id").alias("sum_id"),
        F.sum(
            F.when(F.col("mime") == F.col("meta")["content_type"], 1).otherwise(0)
        ).alias("n_meta_match"),
    )


@register(
    "url_codec",
    oracle_cte()
    + """
SELECT conv_id, turn_idx,
       'p/q ' || role || '=' || CAST(turn_idx AS VARCHAR) AS decoded,
       replace(role || ' ' || coalesce(tool, 'x'), ' ', '+') AS encoded
FROM transcripts
""",
)
def q_url_codec(spark, sf_dir):
    """urldecode + url_encode through the driver gate (the urldecode
    processor, actions/urldecode.go). Decode: a synthesized %-escaped path
    (%2F %20 %3D) round-trips through Spark's url_decode against literal
    SQL concatenation. Encode: role+tool (alnum + space only, so the
    URLEncoder transform is exactly space→'+') against SQL replace().
    DuckDB 1.0 has no url functions — the oracle builds the expected
    output from the inverse construction instead. Map-only codegen."""
    t = load_transcripts(spark, sf_dir)
    enc_src = F.concat(
        F.lit("p%2Fq%20"), F.col("role"), F.lit("%3D"), F.col("turn_idx").cast("string")
    )
    return t.select(
        "conv_id",
        "turn_idx",
        F.url_decode(enc_src).alias("decoded"),
        F.url_encode(
            F.concat(F.col("role"), F.lit(" "), F.coalesce(F.col("tool"), F.lit("x")))
        ).alias("encoded"),
    )


@register(
    "formatted_index",
    oracle_cte()
    + """
SELECT 'tx-' || role || '-' || strftime(ts, '%Y.%m.%d') AS idx,
       strftime(ts, '%Y.%m.%d') AS raw_index,
       count(*) AS n
FROM transcripts
GROUP BY 1, 2
""",
)
def q_formatted_index(spark, sf_dir):
    """Format keys + add_formatted_index through the driver gate: the
    routing fmtstr surface (`%{[field]}` refs and `%{+yyyy.MM.dd}`
    event-timestamp keys, fmtstr/formatevents.go:35-44) renders the daily
    index name exactly the way Beats builds time-partitioned indices
    (add_formatted_index/config.go:28). Group-by on the rendered index =
    the per-index routing cardinality a real deployment monitors."""
    from beats_spark.operators import enrich as EE
    from beats_spark.routing import compile_format

    t = load_transcripts(spark, sf_dir)
    t = t.withColumn("idx", compile_format("tx-%{[role]}-%{+yyyy.MM.dd}"))
    t = EE.add_formatted_index(t, "%Y.%m.%d", target="raw_index")
    return t.groupBy("idx", "raw_index").agg(F.count("*").alias("n"))


@register(
    "cache_enrich",
    oracle_cte()
    + """
, cache AS (
  SELECT conv_id, role AS first_role
  FROM transcripts
  WHERE turn_idx = 0 AND ts >= TIMESTAMP '2024-01-01 12:00:00'
)
SELECT t.role, coalesce(c.first_role, '<expired>') AS first_role, count(*) AS n
FROM transcripts t LEFT JOIN cache c USING (conv_id)
GROUP BY 1, 2
""",
)
def q_cache_enrich(spark, sf_dir):
    """cache put/get with TTL through the driver gate (the cache processor,
    cache/config.go:26-108): cache_put builds latest-value-per-key from the
    first turn of each conversation (exactly one entry per key ⇒ fully
    deterministic), cache_get broadcast-joins it back with TTL expiry as a
    plain predicate on entry_ts — entries older than now-15d read as
    misses. The cutoff (2024-01-01 12:00) splits the conv population at
    every SF (9/15 hit at sf0.001, 39/150 at sf0.01, 494/1500 at sf0.1),
    so BOTH the hit and the expiry path are value-checked. Plan:
    BroadcastHashJoin, no shuffle of the probe side."""
    from beats_spark.operators.enrich import cache_put
    from beats_spark.operators.misc import cache_get

    t = load_transcripts(spark, sf_dir)
    cache = cache_put(
        t.filter(F.col("turn_idx") == 0), key_field="conv_id",
        value_field="role", ts_field="ts",
    )
    out = cache_get(
        t, cache, key_field="conv_id", target_field="first_role",
        ttl_seconds=15 * 86400, now_ts="2024-01-16 12:00:00",
    )
    return out.groupBy(
        "role", F.coalesce(F.col("first_role"), F.lit("<expired>")).alias("first_role")
    ).agg(F.count("*").alias("n"))


@register(
    "stage_metrics",
    oracle_cte()
    + """
SELECT 'source' AS stage, 0 AS ord, count(*) AS n_rows,
       CAST(0 AS BIGINT) AS n_flag FROM transcripts
UNION ALL
SELECT 'parse', 1, count(*),
       CAST(sum(CASE WHEN contains(text, '!!corrupt') THEN 1 ELSE 0 END)
            AS BIGINT)
FROM transcripts
UNION ALL
SELECT 'route', 2, count(*),
       CAST(sum(CASE WHEN contains(text, '!!corrupt') THEN 1 ELSE 0 END)
            AS BIGINT)
FROM transcripts
""",
)
def q_stage_metrics(spark, sf_dir):
    """Per-stage lineage + row-count metrics through the driver gate (the
    north rule's 'per-partition lineage and row-count metrics emitted per
    stage'; reference counters: publisher/pipeline/monitoring.go:24-179).
    The REAL parse → enrich → route DAG runs ONCE with `df.observe`
    counters fused into the same job (no second pass over the data); the
    returned table is the collected lineage manifest. Oracle recomputes
    each stage's expected counters: parse keeps grok failures (flagged
    rows ride with flags), routing claims every row (default
    events-%{role}), and deadletter traffic equals the corrupt-row count.
    Driver state = one row per stage — bounded."""
    from beats_spark.metrics import PipelineMetrics
    from beats_spark.pipeline import enrich_stage, parse_stage, route_stage

    m = PipelineMetrics()
    t = m.observe(load_transcripts(spark, sf_dir), "source")
    parsed = m.observe(
        parse_stage(t),
        "parse",
        n_corrupt=F.sum(
            F.when(F.col("text").contains("!!corrupt"), 1).otherwise(0)
        ),
    )
    routed = m.observe(
        route_stage(enrich_stage(parsed)),
        "route",
        n_dead=F.sum(F.when(F.col("_sink") == DEAD_LETTER, 1).otherwise(0)),
    )
    routed.count()  # ONE action drives all three fused observations
    rows = [
        (
            d["stage"],
            int(d["order"]),
            int(d["rows"]),
            int(d.get("n_corrupt", d.get("n_dead", 0))),
        )
        for d in m.lineage()
    ]
    return spark.createDataFrame(
        rows, "stage string, ord int, n_rows long, n_flag long"
    )


@register(
    "winlog_parse",
    oracle_cte()
    + """
SELECT conv_id, turn_idx,
       CAST(4624 + turn_idx % 3 AS VARCHAR) AS event_code,
       'event' AS event_kind,
       role AS event_provider,
       'None' AS event_action,
       printf('host-%d', turn_idx % 5) AS host_name,
       CASE WHEN turn_idx % 2 = 0 THEN 'success' ELSE 'failure' END
         AS event_outcome,
       CASE CAST(turn_idx % 6 AS INT)
         WHEN 1 THEN 'critical' WHEN 2 THEN 'error' WHEN 3 THEN 'warning'
         WHEN 5 THEN 'verbose' ELSE 'information' END AS log_level,
       CAST(turn_idx AS BIGINT) AS record_id,
       CAST(100 + turn_idx % 7 AS BIGINT) AS pid,
       role AS target_user
FROM transcripts
""",
)
def q_winlog_parse(spark, sf_dir):
    """decode_xml_wineventlog through the driver gate (reference:
    decode_xml_wineventlog/processor.go:99-163 + the winmeta fallback
    tables, winlogbeat/sys/winevent/winmeta.go:30-63). A Windows Event
    XML document is synthesized per turn with printf (level cycling all
    six raw values, keywords alternating AUDIT_SUCCESS/AUDIT_FAILURE,
    Task=0 -> 'None'); the decoder's vectorized XML walk plus the ECS
    projection is then checked field-by-field against the oracle's
    re-derivation from the same integer arithmetic — level table, outcome
    mask, ECS mirrors and EventData map all value-checked."""
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir)
    t = t.withColumn(
        "evt_xml",
        F.expr(
            """printf(
  '<Event xmlns="http://schemas.microsoft.com/win/2004/08/events/event"><System><Provider Name="%s" Guid="{11111111-2222-3333-4444-555555555555}"/><EventID>%d</EventID><Version>2</Version><Level>%d</Level><Task>0</Task><Keywords>%s</Keywords><TimeCreated SystemTime="2024-01-01T00:00:00Z"/><EventRecordID>%d</EventRecordID><Execution ProcessID="%d" ThreadID="%d"/><Channel>Security</Channel><Computer>host-%d</Computer></System><EventData><Data Name="TargetUserName">%s</Data></EventData></Event>',
  role, 4624 + turn_idx % 3, turn_idx % 6,
  CASE WHEN turn_idx % 2 = 0 THEN '0x8020000000000000'
       ELSE '0x8010000000000000' END,
  turn_idx, 100 + turn_idx % 7, 200 + turn_idx % 11, turn_idx % 5, role)"""
        ),
    )
    t = P.decode_xml_wineventlog(t, "evt_xml")
    return t.select(
        "conv_id",
        "turn_idx",
        "event_code",
        "event_kind",
        "event_provider",
        "event_action",
        "host_name",
        "event_outcome",
        "log_level",
        F.col("winlog")["record_id"].alias("record_id"),
        F.col("winlog")["process_pid"].alias("pid"),
        F.col("winlog")["event_data"]["TargetUserName"].alias("target_user"),
    )


@register(
    "gzip_roundtrip",
    oracle_cte()
    + """
SELECT conv_id, turn_idx,
       role || '|' || CAST(turn_idx AS VARCHAR) || '|' || text AS decoded,
       TRUE AS bad_is_null
FROM transcripts
""",
)
def q_gzip_roundtrip(spark, sf_dir):
    """decompress_gzip_field through the driver gate (reference:
    decode/decompress_gzip_field — same inverse-construction pattern as
    codec_roundtrip: DuckDB cannot gzip, so the oracle recomputes the
    PLAINTEXT and the query proves compress->decompress returns it
    byte-for-byte). The failure path is value-checked too: feeding the
    raw UTF-8 text bytes (no gzip magic) must yield NULL under
    ignore_failure. Compression is mtime=0 so the bytes are deterministic;
    both UDFs are Arrow-batched pandas UDFs."""
    from beats_spark.operators.misc import (
        compress_gzip_field,
        decompress_gzip_field,
    )

    t = load_transcripts(spark, sf_dir)
    t = t.withColumn(
        "plain", F.format_string("%s|%d|%s", "role", "turn_idx", "text")
    )
    t = compress_gzip_field(t, "plain", target="gz_bytes")
    t = decompress_gzip_field(t, "gz_bytes", target="decoded")
    t = decompress_gzip_field(
        t.withColumn("not_gzip", F.col("text").cast("binary")),
        "not_gzip",
        target="bad",
    )
    return t.select(
        "conv_id", "turn_idx", "decoded", F.isnull("bad").alias("bad_is_null")
    )


@register(
    "field_projection",
    oracle_cte()
    + """
SELECT conv_id, turn_idx,
       '{"role":"' || role || '"}' AS meta_json,
       CAST(turn_idx * 2 AS BIGINT) AS keepme
FROM transcripts
""",
)
def q_field_projection(spark, sf_dir):
    """drop_fields (regex entry + nested dot-path) + include_fields +
    move_fields through the driver gate (reference: drop_fields.go:78-90,
    include_fields.go:44-91, move_fields.go:40-44). role/tool move into a
    `meta` struct, the '/^tmp_/' regex drops both scratch columns, the
    nested 'meta.tool' entry shrinks the struct via dropFields, and
    include_fields projects the final column set. to_json(meta) proves
    the struct holds EXACTLY {role} — a surviving tool field would change
    the JSON. Pure Column ops, no Python, no shuffle beyond the transcript
    derivation window."""
    from beats_spark.operators.filter import drop_fields, include_fields
    from beats_spark.operators.misc import move_fields

    t = load_transcripts(spark, sf_dir)
    t = (
        t.withColumn("tmp_len", F.length("text"))
        .withColumn("tmp_upper", F.upper("role"))
        .withColumn("keepme", (F.col("turn_idx") * 2).cast("long"))
    )
    t = move_fields(t, ["role", "tool"], from_prefix="", to_prefix="meta")
    t = drop_fields(t, ["/^tmp_/", "meta.tool"])
    t = include_fields(t, ["conv_id", "turn_idx", "meta", "keepme"])
    return t.select(
        "conv_id",
        "turn_idx",
        F.to_json("meta").alias("meta_json"),
        "keepme",
    )


@register(
    "metadata_stamp",
    oracle_cte()
    + """
SELECT role, tool, count(*) AS n,
       CAST(1 AS BIGINT) AS n_inst,
       'UTC' AS tz,
       'logs-transcripts-prod' AS ds,
       (SELECT count(*) FROM (SELECT DISTINCT role, tool FROM transcripts))
         AS n_inst_total
FROM transcripts
GROUP BY role, tool
""",
)
def q_metadata_stamp(spark, sf_dir):
    """add_locale + add_data_stream + timeseries instance through the
    driver gate (reference: add_locale.go:62, add_data_stream.go:40-90,
    timeseries/timeseries.go:39-41). The instance hash has no DuckDB
    twin (xxhash64), so the oracle checks its CONTRACT instead: a pure
    function of the dimension fields — exactly one distinct instance per
    (role, tool) group (n_inst), and globally as many instances as there
    are distinct dimension pairs (n_inst_total), i.e. deterministic AND
    collision-free on this domain. The data-stream routing string and
    locale constants are value-checked directly. The global count rides
    in on a broadcast nested-loop join of a 1-row aggregate — no second
    pass shuffle."""
    from beats_spark.operators import enrich as EE

    t = load_transcripts(spark, sf_dir)
    t = EE.add_locale(t)
    t = EE.add_data_stream(t, "logs", "transcripts", "prod")
    t = EE.timeseries_instance(t, ["role", "tool"], target="inst")
    per_group = t.groupBy("role", "tool").agg(
        F.count("*").alias("n"),
        F.count_distinct("inst").alias("n_inst"),
        F.first("event_timezone").alias("tz"),
        F.first("_meta_raw_index").alias("ds"),
    )
    total = t.agg(F.count_distinct("inst").alias("n_inst_total"))
    return per_group.crossJoin(F.broadcast(total))


@register(
    "container_parse",
    oracle_cte()
    + """
SELECT conv_id, turn_idx,
       printf('line-%s-%d', role, turn_idx) AS msg,
       CASE WHEN turn_idx % 2 = 0 THEN 'stdout' ELSE 'stderr' END AS stream,
       CASE WHEN turn_idx % 2 = 0 THEN '2024-01-06T00:17:09.000000000Z'
            ELSE '2024-01-06T00:17:09.669794202Z' END AS ts_raw
FROM transcripts
""",
)
def q_container_parse(spark, sf_dir):
    """Container log parser through the driver gate (filebeat's `container`
    input: docker json-file + CRI-O, libbeat/reader/parser/parser.go:91-130).
    Even turns synthesize a docker json-file line ({"log":...,"stream":
    "stdout","time":...}), odd turns a CRI-O line ('<ts> stderr F <log>');
    fmt='auto' must route each through the right branch (from_json vs the
    CRI grok) and the oracle re-derives all three extracted fields from
    the same arithmetic. JVM-side from_json + regexp — no Python."""
    from beats_spark.operators.misc import container

    t = load_transcripts(spark, sf_dir)
    t = t.withColumn(
        "raw_line",
        F.when(
            F.col("turn_idx") % 2 == 0,
            F.format_string(
                '{"log":"line-%s-%d","stream":"stdout",'
                '"time":"2024-01-06T00:17:09.000000000Z"}',
                "role",
                "turn_idx",
            ),
        ).otherwise(
            F.format_string(
                "2024-01-06T00:17:09.669794202Z stderr F line-%s-%d",
                "role",
                "turn_idx",
            )
        ),
    )
    t = container(t, field="raw_line", fmt="auto")
    return t.select(
        "conv_id",
        "turn_idx",
        F.col("container")["message"].alias("msg"),
        F.col("container")["stream"].alias("stream"),
        F.col("container")["ts_raw"].alias("ts_raw"),
    )


@register(
    "event_stamp",
    oracle_cte()
    + """
SELECT conv_id, turn_idx,
       'prod' AS f_env, 'engine' AS f_svc, '5' AS f_ver,
       'data' AS l_team, 'gold' AS l_tier, 'a,b' AS l_zones,
       'beats,extra,prod' AS tags_sorted,
       'x,' || role AS related,
       'ip-10-0-0-7' AS host_name, 'linux' AS host_os,
       'us-east-1' AS cloud_region
FROM transcripts
""",
)
def q_event_stamp(spark, sf_dir):
    """The constant-stamp enrich family through the driver gate:
    add_fields DeepUpdate merge (actions/addfields/add_fields.go:40-103 +
    event.go:125-133 — second call's new keys win, first call's
    untouched keys survive), add_labels flattening (add_labels.go:36-44:
    nested dicts dot-flatten, lists comma-join), add_tags dedup union
    (add_tags.go:38-47 — 'beats' appended twice lands once), append
    (append.go:37-43: constants + another field's value), and the
    constant-struct metadata family add_host/observer/cloud_metadata
    (add_host_metadata/add_host_metadata.go:50 — struct of constants
    computed once, selected back out field-by-field). All pure Column
    literals/array ops; the oracle re-states every stamp."""
    from beats_spark.operators import enrich as EE

    t = load_transcripts(spark, sf_dir)
    t = EE.add_fields(t, {"env": "prod", "svc": "beats-spark"}, target="fields")
    t = EE.add_fields(t, {"svc": "engine", "ver": "5"}, target="fields")
    t = EE.add_labels(
        t, {"team": "data", "tier": {"name": "gold"}, "zones": ["a", "b"]}
    )
    t = EE.add_tags(t, ["prod", "beats"])
    t = EE.add_tags(t, ["beats", "extra"])
    t = EE.append_fields(t, "related", values=["x"], fields=["role"])
    t = EE.add_constant_metadata(
        t, "host", {"name": "ip-10-0-0-7", "os": "linux"}
    )
    t = EE.add_constant_metadata(t, "cloud", {"region": "us-east-1"})
    return t.select(
        "conv_id",
        "turn_idx",
        F.col("fields")["env"].alias("f_env"),
        F.col("fields")["svc"].alias("f_svc"),
        F.col("fields")["ver"].alias("f_ver"),
        F.col("labels")["team"].alias("l_team"),
        F.col("labels")["tier_name"].alias("l_tier"),
        F.col("labels")["zones"].alias("l_zones"),
        F.array_join(F.array_sort("tags"), ",").alias("tags_sorted"),
        F.array_join("related", ",").alias("related"),
        F.col("host")["name"].alias("host_name"),
        F.col("host")["os"].alias("host_os"),
        F.col("cloud")["region"].alias("cloud_region"),
    )


def _dns_snapshot(t: DataFrame) -> DataFrame:
    """(query, answers) for every distinct `ip` whose last IPv4 octet is not
    a multiple of 3; an IPv6 literal has no fourth octet and stays
    unresolved, as in the oracle's TRY_CAST."""
    octet4 = F.try_element_at(F.split("ip", r"\."), F.lit(4)).try_cast("long")
    return (
        t.where(F.col("ip").isNotNull() & (octet4 % 3 != 0))
        .select(F.col("ip").alias("query"))
        .distinct()
        .withColumn(
            "answers",
            F.array(
                F.concat(
                    F.lit("host-"),
                    F.regexp_replace("query", r"\.", "-"),
                    F.lit(".internal.example"),
                )
            ),
        )
    )


@register(
    "dns_enrich",
    oracle_cte()
    + f"""
, base AS (
  SELECT {convert_sql(_TOK0_SQL, "ip")} AS ip FROM transcripts
), res AS (
  SELECT DISTINCT ip AS query,
         'host-' || replace(ip, '.', '-') || '.internal.example' AS answer
  FROM base
  WHERE ip IS NOT NULL AND TRY_CAST(split_part(ip, '.', 4) AS BIGINT) % 3 <> 0
)
SELECT r.answer AS resolved_host,
       (b.ip IS NOT NULL AND r.answer IS NULL) AS dns_failed,
       count(*) AS n
FROM base b LEFT JOIN res r ON b.ip = r.query
GROUP BY resolved_host, dns_failed
""",
)
def q_dns_enrich(spark, sf_dir):
    """DNS processor over a resolver snapshot (enrich.dns_enrich — the
    Spark-first reading of libbeat/processors/dns: config surface
    dns/config.go:31-41, lookup/append/tag semantics dns/dns.go:80-160).
    The reference resolves live and memoizes in a success cache
    (dns/cache.go); per-row network IO is the one thing a 1000-executor
    job must never do, so the cache IS the input: a (query, answers)
    snapshot table, broadcast and hash-joined map-side — the fact side
    never shuffles. Here the snapshot is derived deterministically from
    the corpus's own apache-line client IPs (last-octet % 3 == 0 left
    unresolvable to exercise tag_on_failure); in production it is a side
    table maintained by an out-of-band resolver job. reverse/PTR type:
    scalar answers[0]; append action on a fresh target -> [answer];
    failures tag once, deduplicated."""
    from beats_spark.operators import parse as P

    t = load_transcripts(spark, sf_dir)
    t = P.extract_field(t, "text", " ", 0, "tok0")
    t = P.convert(t, [{"from": "tok0", "to": "ip", "type": "ip"}])
    out = E.dns_enrich(
        t,
        _dns_snapshot(t),
        {"ip": "host"},
        qtype="reverse",
        action="append",
        tag_on_failure=["_dns_reverse_lookup_failed"],
    )
    return out.groupBy(
        F.element_at("host", 1).alias("resolved_host"),
        F.array_contains("tags", "_dns_reverse_lookup_failed").alias("dns_failed"),
    ).agg(F.count("*").alias("n"))


def _hash_split_oracle() -> str:
    return f"""
SELECT split, count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM (SELECT doc_id, {SM.hash_split_sql()} AS split FROM documents) s
GROUP BY 1
""".strip()


@register("hash_split", _hash_split_oracle())
def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test holdout (sampling.hash_split): every
    document lands in the first split whose cumulative md5-threshold
    exceeds md5(doc_id:salt)'s 8-hex prefix — 90/5/5 here. Unlike
    randomSplit, assignment is a pure function of the id: stable under
    repartitioning, reruns, and corpus growth (a new document never moves
    an old one between splits). Plan: map-only CASE chain in whole-stage
    codegen, one corpus groupBy with map-side partials. Oracle restates
    the identical threshold CASE in DuckDB."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return SM.hash_split(docs).groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_id"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register("ngram_topk", X.ngram_topk_sql(n=2, k=20))
def q_ngram_topk(spark, sf_dir):
    """Corpus-wide top-20 word bigrams (textops.ngram_topk) — the classic
    heavy-hitters audit (vocab building, boilerplate detection). Plan:
    explode emits bare gram strings, the count partial-aggregates
    map-side (shuffle is vocabulary-sized, not occurrence-sized), and
    orderBy+limit compiles to TakeOrderedAndProject — per-partition
    bounded heaps, never a global sort. Tie-break (count desc, gram asc)
    is shared with the oracle so the listing is deterministic."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return X.ngram_topk(docs, n=2, k=20)


@register(
    "tfidf_keywords",
    X.tfidf_topk_sql(
        table="(SELECT * FROM documents WHERE doc_id < 2000) b", k=3
    ),
)
def q_tfidf_keywords(spark, sf_dir):
    """Per-document top-3 keywords by tf-idf (textops.tfidf_topk), scored
    as tf/df — idf's rank-equivalent core chosen because integer÷integer
    double division is IEEE-correctly-rounded and therefore bit-identical
    across engines, while ln() is not. Plan: two vocabulary-keyed
    shuffles (tf and df counts, both with map-side partials) joined
    hash-on-term, then a per-document row_number window whose sort is
    bounded by one document's vocabulary. Ties break by term asc in both
    engines."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 2000
    )
    return X.tfidf_topk(docs, k=3)


def _bloom_decontaminate_oracle() -> str:
    flags = D.bloom_decontaminate_sql(
        table="(SELECT * FROM documents"
              " WHERE doc_id < 1500 AND text IS NOT NULL) b"
    )
    return f"""
SELECT contaminated, count(*) AS n_docs,
       min(doc_id) AS min_id, max(doc_id) AS max_id,
       CAST(sum(doc_id) AS BIGINT) AS sum_id
FROM ({flags}) f GROUP BY 1
""".strip()


@register("bloom_decontaminate", _bloom_decontaminate_oracle())
def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination (dedup.bloom_decontaminate): the scale
    path for when the probe's exact 13-gram hash set is itself too big to
    broadcast — the probe compresses into a fixed m-bit Bloom bitmap
    (m=2^16, k=4 here), broadcast as ONE row, membership tested map-only
    via `exists` over each document's gram array. Over-flags relative to
    the exact semi-join (`decontaminate`) — the safe direction — and the
    false positives are DETERMINISTIC: both engines derive the same
    md5 double-hash positions, so the oracle rebuilds the identical
    bitmap and reproduces every flag, false positives included."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 1500
    ).where(F.col("text").isNotNull())
    probe = docs.where(F.col("doc_id") % 7 == 0)
    out = D.bloom_decontaminate(docs, probe)
    return out.groupBy("contaminated").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").cast("long").alias("sum_id"),
    )


_BOILER_HEADER = "NAV: HOME | ABOUT | CONTACT"
_BOILER_FOOTERS = ("Copyright 2024 Example Corp",
                   "Subscribe to our newsletter")


def _strip_boilerplate_oracle() -> str:
    page = f"""
(SELECT doc_id,
        '{_BOILER_HEADER}' || chr(10) || text || chr(10) ||
        CASE WHEN doc_id % 2 = 0 THEN '{_BOILER_FOOTERS[0]}'
             ELSE '{_BOILER_FOOTERS[1]}' END || chr(10) ||
        'ref: doc-' || doc_id AS text
 FROM documents WHERE doc_id < 3000 AND text IS NOT NULL) p
""".strip()
    return X.strip_boilerplate_sql(table=page, min_docs=50)


@register("strip_boilerplate", _strip_boilerplate_oracle())
def q_strip_boilerplate(spark, sf_dir):
    """Corpus-level boilerplate line removal (textops.strip_boilerplate —
    RefinedWeb §3.2 line-wise filtering applied corpus-wide): any trimmed
    line in >= min_docs distinct documents is removed everywhere. The
    corpus has no newlines, so the web-page shape is PLANTED (the
    url_canonical precedent): every doc gets the same nav header, one of
    two footers by doc_id parity, and a unique 'ref: doc-N' line that
    must SURVIVE (frequency 1 < min_docs). Oracle matches on line
    STRINGS while Spark uses xxhash64(trim(line)) — a 64-bit collision
    would surface as a hash mismatch. Plan: bare (id, hash) frequency
    shuffle, removed-hash sets join back BY ID, in-array rebuild — text
    never rides the frequency exchange (plan-gated)."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") < 3000) & F.col("text").isNotNull()
    )
    footer = F.when(F.col("doc_id") % 2 == 0, F.lit(_BOILER_FOOTERS[0])) \
        .otherwise(F.lit(_BOILER_FOOTERS[1]))
    page = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit(_BOILER_HEADER),
            F.col("text"),
            footer,
            F.concat(F.lit("ref: doc-"), F.col("doc_id")),
        ).alias("text"),
    )
    out = X.strip_boilerplate(page, min_docs=50)
    return out.select(
        "doc_id", "n_lines", "n_removed",
        F.md5("cleaned").alias("cleaned_md5"),
    )


# DuckDB recompute of the feature-hashing embedding: same md5 bit
# extraction as the simhash oracle, votes kept dense (ordered 0..63) and
# digested per doc. L1 norm as an exact-integer cross-check.
_HASH_EMBED_ORACLE = _hash_embed_votes_cte(1500) + """
SELECT doc_id,
       md5(array_to_string(list(vote ORDER BY b), ',')) AS emb_md5,
       CAST(sum(abs(vote)) AS BIGINT) AS l1_norm
FROM bits GROUP BY doc_id
"""


@register("hash_embed", _HASH_EMBED_ORACLE)
def q_hash_embed(spark, sf_dir):
    """Model-free document embeddings by feature hashing
    (dedup.hash_embedding — Weinberger et al. 2009 with ±1 md5-bit signs;
    the simhash vote vector kept dense). Gives the ANN / SemDeDup stack a
    deterministic input column when no learned model ships. Map-only
    Arrow kernel, md5 once per unique token per batch; the oracle
    re-derives every bit from the hex digest exactly as the simhash
    oracle does and compares a per-doc vector digest plus the exact
    integer L1 norm."""

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 1500)
        .where(F.col("text").isNotNull() & (F.trim("text") != ""))
    )
    out = D.hash_embedding(docs, dim=64)
    emb_str = F.array_join(
        F.transform(F.col("hash_emb"), lambda x: x.cast("string")), ","
    )
    l1 = F.aggregate(
        F.col("hash_emb"), F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
    )
    return out.select(
        "doc_id",
        F.md5(emb_str).alias("emb_md5"),
        l1.alias("l1_norm"),
    )


# Brute-force cosine top-k over the feature-hashing embeddings, fully
# re-derived in DuckDB: md5 bits → dense votes → `cosine_sql` over the
# votes as doubles (integer-valued: every product and partial sum stays
# under 2^53 and is exact, the rest is correctly rounded, so the doubles
# are bit-identical cross-engine).
_HASH_EMBED_TOPK_ORACLE = _hash_embed_votes_cte(400) + """,
emb AS (
  SELECT doc_id, list(vote ORDER BY b) AS v FROM bits GROUP BY doc_id
),
pairs AS (
  SELECT q.doc_id AS query_id, CAST(q.v AS DOUBLE[]) AS qv,
         n.doc_id AS neighbor_id, CAST(n.v AS DOUBLE[]) AS nv
  FROM emb q JOIN emb n ON q.doc_id % 50 = 0 AND q.doc_id != n.doc_id
)
SELECT query_id, neighbor_id, round(score, 6) AS score, rank
FROM (""" + SIM.top_k_sql("pairs", 5) + ")"


@register("hash_embed_topk", _HASH_EMBED_TOPK_ORACLE)
def q_hash_embed_topk(spark, sf_dir):
    """The composed stack: feature-hashing embeddings feeding brute-force
    cosine top-k (similarity.cosine_topk) — model-free nearest-neighbor
    search over raw text, END-TO-END oracled: DuckDB re-derives the md5 vote vectors AND replays the exact cosine
    ranking. Integer dots keep every double product under 2^53, so both
    engines' IEEE arithmetic agrees bit-for-bit, ties broken by neighbor
    id. Queries = the doc_id % 50 slice, broadcast against the corpus
    slice."""

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 400)
        .where(F.col("text").isNotNull() & (F.trim("text") != ""))
    )
    emb = D.hash_embedding(docs, dim=64).select("doc_id", "hash_emb")
    q = emb.where(F.col("doc_id") % 50 == 0)
    out = SIM.cosine_topk(
        emb, q, k=5, id_col="doc_id", vec_col="hash_emb",
        query_id_col="doc_id",
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


_SAMPLE_GATE_COND = {"has_fields": ["tool", "text"]}


def _sample_gate_oracle() -> str:
    from beats_spark.operators.filter import sample_sql

    return (
        oracle_cte()
        + f"""
SELECT role, count(*) AS n, CAST(sum(turn_idx) AS BIGINT) AS sum_turn
FROM transcripts
WHERE {condition_sql(_SAMPLE_GATE_COND)}
  AND {sample_sql(0.35, ["conv_id", "turn_idx"])}
GROUP BY role
"""
    )


@register("sample_gate", _sample_gate_oracle())
def q_sample_gate(spark, sf_dir):
    """has_fields condition + the sample processor through the driver
    gate: keep turns where tool AND text are present (actions/
    add_fields.go's has_fields condition, conditions/conditions.go), then
    deterministically sample 35% keyed on (conv_id, turn_idx). sample()
    now decides from the md5(key) 8-hex prefix — the same threshold
    machinery as beats_spark.sampling — so the previously engine-private
    xxhash64 bucket is gone and the keep decision replays exactly in
    DuckDB. Map-only until the final groupBy; both predicates reach the
    scan."""
    t = load_transcripts(spark, sf_dir)
    t = FL.keep_event(t, _SAMPLE_GATE_COND)
    t = FL.sample(t, 0.35, ["conv_id", "turn_idx"])
    return t.groupBy("role").agg(
        F.count("*").alias("n"),
        F.sum("turn_idx").cast("long").alias("sum_turn"),
    )


@register(
    "containment_pairs",
    D.containment_pairs_sql(
        table="(SELECT * FROM documents"
              " WHERE doc_id < 1000 AND text IS NOT NULL) b",
        threshold=0.8,
    ),
)
def q_containment_pairs(spark, sf_dir):
    """Directed containment join (dedup.containment_pairs — Broder 1997's
    containment coefficient, |A∩B|/|A| >= 0.8): the quote/subset detector
    Jaccard can't see (a short doc embedded in a long one drowns in the
    union). Prefix filter prunes only the probe side (the asymmetric
    Bayardo adaptation); the oracle brute-forces ALL ordered pairs with
    an independent algorithm, proving the filter misses nothing. The
    slice caps at 1000 docs for the oracle's quadratic density — same
    documented rationale as prefix_jaccard_pairs (queries.py
    q_prefix_jaccard_pairs); the Spark plan itself is the
    inverted-index join that scales."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        (F.col("doc_id") < 1000) & F.col("text").isNotNull()
    )
    return D.containment_pairs(docs, threshold=0.8)




# --------------------------------------------------------------------------
# registry order: the correctness harness verifies only the first entries
# of queries(), so the least recently verified oracled queries lead, as the
# CORRECTNESS_r<N>.json records kept next to the package show
# --------------------------------------------------------------------------


def _correctness_records() -> dict[int, dict]:
    """{round: {query: record}} from every CORRECTNESS_r<N>.json beside the
    package."""
    out: dict[int, dict] = {}
    for path in Path(__file__).resolve().parent.parent.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            out[int(m.group(1))] = json.loads(path.read_text())
    return out


def last_green_round(records: dict[int, dict]) -> dict[str, int]:
    """Each query's last round with hash_match true."""
    out: dict[str, int] = {}
    for rnd, recs in records.items():
        for name, rec in recs.items():
            if rec.get("hash_match") is True:
                out[name] = max(out.get(name, 0), rnd)
    return out


def registry_order(
    names: list[str], oracled: set[str], records: dict[int, dict]
) -> list[str]:
    """Oracled queries first, oldest last-green round first (never green
    sorts before round 1); rows-only queries last. The sort is stable, so
    ties keep registration order, and no records means registration order."""
    last = last_green_round(records)
    return sorted(names, key=lambda n: (n not in oracled, last.get(n, 0)))


def _ordered() -> list[str]:
    return registry_order(list(QUERIES), set(ORACLES), _correctness_records())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {n: ORACLES[n] for n in _ordered() if n in ORACLES}
