"""Routing — the selector compiler and multi-sink fan-out.

Reimplements Beats' output selector (reference:
/root/reference/libbeat/outputs/outil/select.go:107-176 build,
341-354 first-match-wins evaluation) as ONE Column expression:

    _sink = coalesce(
        nullif(when(cond_1, fmt_1), ''),
        nullif(when(cond_2, fmt_2), ''),
        ...,
        lit(default))

Key properties preserved:
- ordered rules, first rule producing a non-empty key wins
  (ConcatSelectorExpr, select.go:208-212);
- format-string keys `%{[field]}` render from event fields
  (fmtstr/formatevents.go:35-44); a null field ⇒ rule yields no key ⇒
  fall through (F.concat propagates null);
- optional `mappings:` table with `default:` (select.go:225-249);
- events with no key and no default are dropped (ES client behavior,
  elasticsearch/client.go:395-422) — or routed to a dead-letter sink.

Because the selector is a Column expression, Catalyst constant-folds
rules whose format string has no field references — the same optimization
the reference does by hand with constSelector (select.go:193-206).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import compile_condition, condition_sql, sql_str

SINK_COL = "_sink"
DEAD_LETTER = "deadletter"

_FMT_REF = re.compile(r"%\{(\+)?\[?([\w.\]\[:]+?)\]?\}")

# Go time-layout fragments → JDK pattern; Beats' `%{+FORMAT}` keys use the
# joda-ish tokens of fmtstr (formatevents.go timestamp expansion)
_TIME_TOKENS = [("yyyy", "yyyy"), ("YYYY", "yyyy"), ("MM", "MM"),
                ("dd", "dd"), ("HH", "HH"), ("mm", "mm"), ("ss", "ss")]


def _format_parts(fmt: str):
    """Split a format string into ("lit", text), ("field", dotted path) and
    ("ts", time layout) parts — the one parse both renderers share."""
    pos = 0
    for m in _FMT_REF.finditer(fmt):
        if m.start() > pos:
            yield "lit", fmt[pos : m.start()]
        if m.group(1):  # %{+FORMAT} — event-timestamp render
            yield "ts", m.group(2)
        else:
            yield "field", m.group(2).replace("][", ".").strip("[]")
        pos = m.end()
    if pos < len(fmt):
        yield "lit", fmt[pos:]


def compile_format(fmt: str) -> Column:
    """`"idx-%{[role]}-%{+yyyy.MM.dd}"` → concat of lits, string-cast
    columns, and date_format(ts) for `%{+FORMAT}` keys
    (fmtstr/formatevents.go:35-44; timestamp keys are how Beats builds
    daily indices — add_formatted_index/config.go:28).

    Null field value ⇒ whole result null (rule fallthrough), matching the
    reference where a missing field fails the format string render.
    """
    parts: list[Column] = []
    for kind, v in _format_parts(fmt):
        if kind == "ts":
            for src, dst in _TIME_TOKENS:
                v = v.replace(src, dst)
            parts.append(F.date_format(F.col("ts"), v))
        else:
            parts.append(F.lit(v) if kind == "lit" else F.col(v).cast("string"))
    if not parts:
        return F.lit("")
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def compile_selector(
    df: DataFrame,
    rules: list[dict],
    default: str | None = None,
) -> Column:
    """rules: ordered [{key: fmt, when: cond-cfg?, mappings: {v: sink}?,
    mapping_default: str?}] → first-match-wins sink Column."""
    attempts: list[Column] = []
    for rule in rules:
        expr = compile_format(rule["key"])
        if "mappings" in rule:
            m = rule["mappings"]
            pairs = [p for kv in m.items() for p in (F.lit(kv[0]), F.lit(kv[1]))]
            mapped = F.create_map(*pairs)[expr]
            if "mapping_default" in rule:
                mapped = F.coalesce(mapped, F.lit(rule["mapping_default"]))
            expr = mapped
        if "when" in rule:
            expr = F.when(compile_condition(rule["when"], df), expr)
        # empty string ⇒ fall through to the next rule (select.go:341-354)
        attempts.append(F.nullif(expr, F.lit("")))
    if default is not None:
        attempts.append(F.lit(default))
    return F.coalesce(*attempts) if len(attempts) > 1 else attempts[0]


def format_sql(fmt: str) -> str:
    """compile_format's DuckDB twin: `||` of quoted literals and
    VARCHAR-cast fields, NULL when any field is NULL. Timestamp keys
    (`%{+FORMAT}`) have no SQL rendering."""
    parts: list[str] = []
    for kind, v in _format_parts(fmt):
        if kind == "ts":
            raise ValueError(f"format_sql: timestamp key in {fmt!r}")
        parts.append(sql_str(v) if kind == "lit" else f"CAST({v} AS VARCHAR)")
    return " || ".join(parts) or "''"


def selector_sql(rules: list[dict]) -> str:
    """compile_selector's DuckDB twin, with the same first-non-empty
    semantics: COALESCE(NULLIF(CASE WHEN cond THEN key END, ''), …)."""
    attempts: list[str] = []
    for rule in rules:
        if "mappings" in rule:
            raise ValueError("selector_sql: mappings are not rendered")
        expr = format_sql(rule["key"])
        if "when" in rule:
            expr = f"CASE WHEN {condition_sql(rule['when'])} THEN {expr} END"
        attempts.append(f"NULLIF({expr}, '')")
    return f"COALESCE({', '.join(attempts)})" if len(attempts) > 1 else attempts[0]


def route(
    df: DataFrame,
    rules: list[dict],
    default: str | None = None,
) -> DataFrame:
    """Attach the sink column; optionally drop events no rule claimed."""
    out = df.withColumn(SINK_COL, compile_selector(df, rules, default))
    if default is None:
        out = out.filter(F.col(SINK_COL).isNotNull())
    return out


def drop_metadata(df: DataFrame) -> DataFrame:
    """Drop the `_meta_*` columns: @metadata is routing-only state, never
    indexed (libbeat/beat/event.go:42, outputs drop it)."""
    return df.drop(*[c for c in df.columns if c.startswith("_meta_")])


def fan_out(df: DataFrame, base_path: str) -> None:
    """Write every sink in ONE pass via partitionBy(_sink).

    This is the scale-critical choice: N separate `filter(sink==s).write`
    passes re-scan the input N times; `partitionBy` shuffles nothing and
    splits writers per partition value. At 10^12 rows each sink directory is
    an independent dataset (≅ per-sink Iceberg tables; swap `.format("iceberg")
    .writeTo(table)` per sink in production).

    `_meta_*` columns are dropped before write (`drop_metadata`).
    """
    (
        drop_metadata(df)
        .write.partitionBy(SINK_COL)
        .format("parquet")
        .mode("overwrite")
        .save(base_path)
    )


def iceberg_available(spark) -> bool:
    """True when an Iceberg Spark runtime is on the JVM classpath.

    This container ships none and has no network to fetch
    `org.apache.iceberg:iceberg-spark-runtime-*`; a plain
    `df.write.format("iceberg")` there fails with
    `org.apache.spark.SparkClassNotFoundException: [DATA_SOURCE_NOT_FOUND]
    Failed to find the data source: iceberg` (cause:
    `java.lang.ClassNotFoundException: iceberg.DefaultSource`) — recorded
    in BASELINE.md. On a provisioned cluster this probe flips true and
    `fan_out_iceberg` runs."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def fan_out_iceberg(df: DataFrame, table: str) -> None:
    """ACID fan-out: ONE Iceberg table partitioned by the sink column,
    written in a single pass — the snapshot commit is the ack/registrar
    step (reference analogue: the ES output's commit+ack cycle,
    libbeat/outputs/elasticsearch/client.go:449-543). Per-sink readers
    scan `WHERE _sink = ...` and Iceberg partition pruning serves exactly
    that sink's files; a failed job leaves the previous snapshot intact
    (atomic re-commit), which is what checkpoint.checkpointed_fan_out
    hand-builds with directory renames + a manifest on plain parquet.

    Raises NotImplementedError with the recorded blocker when no Iceberg
    runtime jar is present (see iceberg_available)."""
    spark = df.sparkSession
    if not iceberg_available(spark):
        raise NotImplementedError(
            "Iceberg runtime jar absent: df.write.format('iceberg') fails "
            "with SparkClassNotFoundException [DATA_SOURCE_NOT_FOUND] "
            "'Failed to find the data source: iceberg' (ClassNotFound: "
            "iceberg.DefaultSource). Provision "
            "org.apache.iceberg:iceberg-spark-runtime and a catalog, then "
            "this call writes one partitioned table per fan-out."
        )
    (
        drop_metadata(df)
        .writeTo(table)
        .partitionedBy(F.col(SINK_COL))
        .createOrReplace()
    )
