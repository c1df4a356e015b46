"""The flagship parse → enrich → route → aggregate DAG over transcripts.

This is the Spark restatement of the Beats data path (SURVEY.md §3.1):
scan → processor program (ordered column transforms) → routing selector →
per-sink fan-out + aggregates. Program order is preserved as column
dependency order; Catalyst fuses the whole parse+enrich stage into one
WholeStageCodegen span around a single Arrow UDF exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beats_spark.data import lookups as L
from beats_spark.data.transcripts import load_transcripts
from beats_spark.operators import enrich as E
from beats_spark.operators import parse as P
from beats_spark.routing import DEAD_LETTER, route

# The grok bank for the three transcript text templates
# (beats_spark/data/transcripts.py). First match wins.
TRANSCRIPT_PATTERNS = [
    # logfmt template
    r"^level=%{LOGLEVEL:level} ts=%{TIMESTAMP_ISO8601:event_time} "
    r"caller=%{NOTSPACE:caller} msg=\"%{DATA:msg}\" value=%{INT:value:long} "
    r"took=%{INT:took_ms:long}ms$",
    # apache-access template
    r"^%{IPV4:client_ip} %{USER:ident} %{USER:auth} \[%{TIMESTAMP_ISO8601:event_time}\] "
    r"\"%{WORD:method} %{URIPATH:path} HTTP/%{NUMBER:http_version}\" "
    r"%{INT:status:int} %{INT:size:long}$",
    # plain prose template
    r"^user %{INT:uid:long} did %{WORD:action} with props %{GREEDYDATA:props_json}$",
]

# Routing rules (first-match-wins; SURVEY.md §2.7). The corrupt→deadletter
# rule implements the dead-letter route (elasticsearch/client.go:490-543).
ROUTING_RULES = [
    {"when": {"contains": {"text": "!!corrupt"}}, "key": DEAD_LETTER},
    {"when": {"equals": {"role": "tool"}}, "key": "sink-tools"},
    {"when": {"regexp": {"text": '(level=ERROR|" 500 )'}}, "key": "sink-errors"},
    {"key": "events-%{[role]}"},
]


def parse_stage(tdf: DataFrame) -> DataFrame:
    """Grok pattern bank over text; failures get flags + stay for routing."""
    return P.grok(tdf, TRANSCRIPT_PATTERNS, field="text", target_prefix="parsed")


def enrich_stage(df: DataFrame) -> DataFrame:
    """Map-literal lookups + deterministic id — one projection, no join."""
    df = E.translate(df, "role", L.ROLE_LOOKUP_SCHEMA, L.ROLE_LOOKUP_ROWS,
                     defaults=L.ROLE_LOOKUP_DEFAULTS)
    df = E.translate(df, "tool", L.TOOL_LOOKUP_SCHEMA, L.TOOL_LOOKUP_ROWS,
                     defaults=L.TOOL_LOOKUP_DEFAULTS)
    df = E.add_id(df)
    return df


def route_stage(df: DataFrame) -> DataFrame:
    return route(df, ROUTING_RULES)


def full_pipeline(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """transcripts → parse → enrich → route; returns the routed event table."""
    return route_stage(
        enrich_stage(parse_stage(load_transcripts(spark, sf_dir, replicate=replicate)))
    )


# The tool-call predicate, defined once: a turn calls a tool when `tool`
# names one (NULL, '' and 'none' do not). The string is valid in Spark SQL
# and DuckDB alike, so the engine parses it with F.expr and the oracles
# embed it verbatim.
IS_TOOL_CALL = "tool IS NOT NULL AND tool <> '' AND tool <> 'none'"
TOOL_CALL_FLAG = f"CASE WHEN {IS_TOOL_CALL} THEN 1 ELSE 0 END"


def _turn_measures(df: DataFrame, *grain: str) -> DataFrame:
    """The per-turn measures at `grain`: turn count, tool calls, first and
    last ts (≅ the pipeline monitoring counters,
    publisher/pipeline/monitoring.go:24-179)."""
    return df.groupBy(*grain).agg(
        F.count("*").alias("turn_count"),
        F.sum(F.expr(TOOL_CALL_FLAG)).alias("tool_call_count"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def _rollup(mid: DataFrame, *grain: str) -> DataFrame:
    """Re-aggregate finer-grain measures at `grain`. `n_convs` counts the
    finer rows, so over a (…, conv_id) intermediate it is an exact
    count(DISTINCT conv_id) with no distinct Expand."""
    return mid.groupBy(*grain).agg(
        F.sum("turn_count").alias("turn_count"),
        F.sum("tool_call_count").alias("tool_call_count"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.count("*").alias("n_convs"),
    )


def _sink_view(agg: DataFrame) -> DataFrame:
    return agg.select("_sink", "role", "turn_count", "tool_call_count", "n_convs")


def _conv_view(agg: DataFrame) -> DataFrame:
    return agg.select(
        "conv_id",
        F.col("turn_count").alias("n_turns"),
        "first_ts",
        "last_ts",
        F.col("tool_call_count").alias("total_tool_calls"),
    )


_MID_GRAIN = ("_sink", "role", "conv_id")


def sink_aggregates(routed: DataFrame) -> DataFrame:
    """Per-(sink, role) turn and tool-call counts plus distinct
    conversations — the per-sink counters of the north rule.

    Mid-grain two-stage shape: aggregate once at (_sink, role, conv_id),
    then count mid-grain rows per (_sink, role). No Expand node — the
    countDistinct rewrite's expand measured 1.5× slower at 16 cores, and
    test_plans.py asserts its absence."""
    return _sink_view(_rollup(_turn_measures(routed, *_MID_GRAIN), "_sink", "role"))


def conv_rollups(df: DataFrame) -> DataFrame:
    """Per-conversation turn count, first/last ts and tool-call total."""
    return _conv_view(_turn_measures(df, "conv_id"))


def combined_aggregates(written: DataFrame) -> tuple[DataFrame, DataFrame]:
    """sink_aggregates AND conv_rollups from ONE scan: the input is
    aggregated once at the mid-grain (_sink, role, conv_id) and both
    outputs re-aggregate that intermediate (~|sinks|×|roles|×|convs| rows,
    tiny next to the input). The intermediate is persisted so the two
    branches share one input scan; callers running repeatedly should
    clearCache()/unpersist when done."""
    mid = _turn_measures(written, *_MID_GRAIN).persist()
    return (
        _sink_view(_rollup(mid, "_sink", "role")),
        _conv_view(_rollup(mid, "conv_id")),
    )
