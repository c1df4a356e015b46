"""translate: a small static lookup table compiled to one map literal —
left-join semantics, the old join's output schema, loud failure on a table
a map cannot hold, and no join or shuffle in the batch or stream plan."""

from __future__ import annotations

import pytest

from beats_spark.data import lookups as L
from beats_spark.operators import enrich as E

from .test_plans import _formatted_plan, _nodes

_EVENTS = [("e1", "user", "bash"), ("e2", "moderator", None),
           ("e3", "robot", ""), ("e4", None, "sql")]


def _events(spark):
    return spark.createDataFrame(_EVENTS, "id string, role string, tool string")


def _enriched(spark):
    df = E.translate(_events(spark), "role", L.ROLE_LOOKUP_SCHEMA,
                     L.ROLE_LOOKUP_ROWS, defaults=L.ROLE_LOOKUP_DEFAULTS)
    return E.translate(df, "tool", L.TOOL_LOOKUP_SCHEMA, L.TOOL_LOOKUP_ROWS,
                       defaults=L.TOOL_LOOKUP_DEFAULTS)


def test_translate_missing_and_null_keys_get_defaults(spark):
    got = {r.id: tuple(r)[3:] for r in _enriched(spark).collect()}
    assert got == {
        "e1": ("human", 1, "exec", True),
        "e2": ("control", 9, "none", False),      # tool NULL
        "e3": ("unknown", 0, "none", False),      # role, tool missing
        "e4": ("unknown", 0, "exec", True),       # role NULL
    }


def test_translate_without_defaults_leaves_misses_null(spark):
    got = E.translate(_events(spark), "role", L.ROLE_LOOKUP_SCHEMA,
                      L.ROLE_LOOKUP_ROWS).orderBy("id").collect()
    assert [(r.role_group, r.priority) for r in got] == [
        ("human", 1), ("control", 9), (None, None), (None, None)]


def test_translate_output_schema_matches_the_join(spark):
    # the left join appended the lookup's value columns in table order
    out = _enriched(spark)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("id", "string"), ("role", "string"), ("tool", "string"),
        ("role_group", "string"), ("priority", "int"),
        ("tool_kind", "string"), ("billable", "boolean"),
    ]


@pytest.mark.parametrize("rows, match", [
    ([("a", "x", 1), ("b", "y", 2), ("a", "z", 3)], "duplicate lookup keys"),
    ([("a", "x", 1), (None, "y", 2)], "NULL key"),
])
def test_translate_rejects_a_table_a_map_cannot_hold(spark, rows, match):
    with pytest.raises(ValueError, match=match):
        E.translate(_events(spark), "role", L.ROLE_LOOKUP_SCHEMA, rows)


def test_stream_pipeline_plans_without_exchange_or_join(spark, tmp_path):
    from beats_spark.streaming.pipeline import stream_pipeline, stream_transcripts

    src = tmp_path / "src"
    src.mkdir()
    nodes = _nodes(_formatted_plan(
        stream_pipeline(stream_transcripts(spark, str(src)))))
    assert "ArrowEvalPython" in nodes  # the plan really was built
    assert not [n for n in nodes if n == "Exchange" or n.endswith("Join")], nodes
