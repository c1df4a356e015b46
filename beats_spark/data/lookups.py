"""Enrichment lookup tables (≅ translate_sid / cache-get lookup sources;
reference: /root/reference/libbeat/processors/translate_sid/config.go:23-28,
/root/reference/libbeat/processors/cache/config.go:26-36).

Each table is tiny by design — the engine broadcast-joins it against the
event stream. Defined once; materialized as a Spark DataFrame and as a
DuckDB-compatible VALUES clause so oracle SQL can reproduce the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from beats_spark.conditions import sql_str

# (role, role_group, priority) — covers the full role domain + one key
# ("moderator") that never appears in the data, exercising unused-entry paths.
ROLE_LOOKUP_ROWS = [
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "control", 3),
    ("tool", "machine", 4),
    ("moderator", "control", 9),
]

# (tool, tool_kind, billable) — 'none' and ''/NULL are deliberately absent so
# left-join miss semantics (ignore_missing / default) are exercised.
TOOL_LOOKUP_ROWS = [
    ("search", "retrieval", True),
    ("bash", "exec", True),
    ("python", "exec", True),
    ("browser", "retrieval", False),
    ("sql", "exec", True),
]


def role_lookup_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ROLE_LOOKUP_ROWS, "role string, role_group string, priority int"
    )


def tool_lookup_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        TOOL_LOOKUP_ROWS, "tool string, tool_kind string, billable boolean"
    )


def _values_sql(rows: list[tuple], alias: str, cols: str) -> str:
    def lit(v) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return sql_str(v)
        return str(v)

    vals = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    return f"(VALUES {vals}) AS {alias}({cols})"


def role_lookup_sql() -> str:
    """DuckDB/ANSI VALUES relation for the role lookup."""
    return _values_sql(ROLE_LOOKUP_ROWS, "role_lookup", "role, role_group, priority")


def tool_lookup_sql() -> str:
    return _values_sql(TOOL_LOOKUP_ROWS, "tool_lookup", "tool, tool_kind, billable")
