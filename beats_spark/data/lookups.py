"""Enrichment lookup tables (≅ translate_sid / cache-get lookup sources;
reference: /root/reference/libbeat/processors/translate_sid/config.go:23-28,
/root/reference/libbeat/processors/cache/config.go:26-36).

Each table is tiny by design and defined once, as a DDL schema (key field
first) plus rows: the engine compiles it into a map literal
(`operators.enrich.translate`), and the oracles render it as a DuckDB
VALUES relation.
"""

from __future__ import annotations

from beats_spark.conditions import sql_str

# covers the full role domain + one key ("moderator") that never appears in
# the data, exercising unused-entry paths.
ROLE_LOOKUP_SCHEMA = "role string, role_group string, priority int"
ROLE_LOOKUP_DEFAULTS = {"role_group": "unknown", "priority": 0}
ROLE_LOOKUP_ROWS = [
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "control", 3),
    ("tool", "machine", 4),
    ("moderator", "control", 9),
]

# 'none' and ''/NULL are deliberately absent so left-join miss semantics
# (ignore_missing / default) are exercised.
TOOL_LOOKUP_SCHEMA = "tool string, tool_kind string, billable boolean"
TOOL_LOOKUP_DEFAULTS = {"tool_kind": "none", "billable": False}
TOOL_LOOKUP_ROWS = [
    ("search", "retrieval", True),
    ("bash", "exec", True),
    ("python", "exec", True),
    ("browser", "retrieval", False),
    ("sql", "exec", True),
]


def _values_sql(rows: list[tuple], alias: str, schema: str) -> str:
    def lit(v) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return sql_str(v)
        return str(v)

    vals = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    cols = ", ".join(field.split()[0] for field in schema.split(","))
    return f"(VALUES {vals}) AS {alias}({cols})"


def role_lookup_sql() -> str:
    """DuckDB/ANSI VALUES relation for the role lookup."""
    return _values_sql(ROLE_LOOKUP_ROWS, "role_lookup", ROLE_LOOKUP_SCHEMA)


def tool_lookup_sql() -> str:
    return _values_sql(TOOL_LOOKUP_ROWS, "tool_lookup", TOOL_LOOKUP_SCHEMA)
