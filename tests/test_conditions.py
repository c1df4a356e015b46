"""Condition DSL compiler tests — semantics mirror the reference's table-driven
unit tests (/root/reference/libbeat/conditions/conditions_test.go style):
build rows → compile condition → assert match set. Missing field ⇒ FALSE."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.conditions import ConditionError, compile_condition, condition_sql


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        # id, role, text, tool, code, ip, tags
        (1, "user", "hello world", "search", 200, "10.1.2.3", ["a", "b"]),
        (2, "assistant", "ERROR: boom", "bash", 500, "127.0.0.1", ["b"]),
        (3, "tool", "took=42ms", None, 301, "8.8.8.8", None),
        (4, "system", None, "", 404, "not-an-ip", ["c", "ab"]),
    ]
    return spark.createDataFrame(
        rows,
        "id int, role string, text string, tool string, code int, ip string, tags array<string>",
    )


def ids(df, cond):
    return sorted(r.id for r in df.filter(compile_condition(cond, df)).select("id").collect())


def test_equals(df):
    assert ids(df, {"equals": {"role": "user"}}) == [1]
    assert ids(df, {"equals": {"code": 500}}) == [2]
    assert ids(df, {"equals": {"role": "user", "code": 200}}) == [1]
    assert ids(df, {"equals": {"role": "user", "code": 500}}) == []


def test_equals_rejects_float(df):
    with pytest.raises(ConditionError):
        compile_condition({"equals": {"code": 1.5}}, df)


def test_equals_missing_field_false(df):
    assert ids(df, {"equals": {"nope": "x"}}) == []


def test_contains(df):
    assert ids(df, {"contains": {"text": "ERROR"}}) == [2]
    # any-of list
    assert ids(df, {"contains": {"text": ["hello", "took"]}}) == [1, 3]
    # null text row never matches
    assert ids(df, {"contains": {"text": ""}}) == [1, 2, 3]


def test_contains_array_field(df):
    assert ids(df, {"contains": {"tags": "a"}}) == [1, 4]  # "ab" contains "a"
    assert ids(df, {"contains": {"tags": "c"}}) == [4]


def test_regexp(df):
    assert ids(df, {"regexp": {"text": r"took=\d+ms"}}) == [3]
    assert ids(df, {"regexp": {"text": "^hello"}}) == [1]


def test_range(df):
    assert ids(df, {"range": {"code.gte": 300, "code.lt": 500}}) == [3, 4]
    assert ids(df, {"range": {"code": {"gte": 300, "lt": 500}}}) == [3, 4]
    assert ids(df, {"range": {"code.gt": 500}}) == []


def test_has_fields(df):
    assert ids(df, {"has_fields": ["text", "tool"]}) == [1, 2]
    assert ids(df, {"has_fields": ["missing_col"]}) == []


def test_network(df):
    assert ids(df, {"network": {"ip": "private"}}) == [1]
    assert ids(df, {"network": {"ip": "loopback"}}) == [2]
    assert ids(df, {"network": {"ip": "8.8.0.0/16"}}) == [3]
    assert ids(df, {"network": {"ip": "public"}}) == [3]
    assert ids(df, {"network": {"ip": ["private", "loopback"]}}) == [1, 2]


def test_network_rejects_out_of_range_octets(spark):
    # an octet above 255 is not an address, so no named network holds it
    bad = spark.createDataFrame(
        [(1, "10.0.999.1"), (2, "300.1.1.1"), (3, "10.0.0.1"), (4, "1.1.1.1")],
        "id int, ip string",
    )
    assert ids(bad, {"network": {"ip": "private"}}) == [3]
    assert ids(bad, {"network": {"ip": "public"}}) == [4]


def test_combinators(df):
    cond = {
        "or": [
            {"equals": {"role": "user"}},
            {"and": [{"range": {"code.gte": 500}}, {"contains": {"text": "ERROR"}}]},
        ]
    }
    assert ids(df, cond) == [1, 2]
    assert ids(df, {"not": {"equals": {"role": "user"}}}) == [2, 3, 4]


def test_not_of_missing_field_is_true(df):
    # missing ⇒ inner FALSE ⇒ not ⇒ TRUE for every row (reference semantics:
    # the condition is false, its negation true — not null-propagating)
    assert ids(df, {"not": {"equals": {"nope": "x"}}}) == [1, 2, 3, 4]


def test_sql_renderer_matches_spark(df, spark):
    """The DuckDB SQL rendering has identical semantics on the same rows."""
    import duckdb

    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    fields = set(pdf.columns)
    cases = [
        {"equals": {"role": "user", "code": 200}},
        {"contains": {"text": ["hello", "took"]}},
        {"regexp": {"text": r"took=\d+ms"}},
        {"range": {"code.gte": 300, "code.lt": 500}},
        {"has_fields": ["text", "tool"]},
        {"or": [{"equals": {"role": "user"}}, {"not": {"range": {"code.lt": 500}}}]},
        {"equals": {"nope": "x"}},
    ]
    for cond in cases:
        spark_ids = ids(df, cond)
        duck_ids = sorted(
            r[0]
            for r in con.execute(
                f"SELECT id FROM t WHERE {condition_sql(cond, fields)}"
            ).fetchall()
        )
        assert spark_ids == duck_ids, cond
