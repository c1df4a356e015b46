"""Condition DSL compiler tests — semantics mirror the reference's table-driven
unit tests (/root/reference/libbeat/conditions/conditions_test.go style):
build rows → compile condition → assert match set. Missing field ⇒ FALSE."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

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


# one frame for the differential check: NULLs, an array column with a NULL
# element, numbers that only one engine's own cast reads, IPv6, an octet
# above 255, and every named network
_ROWS = [
    (1, "user", "hello world", 200, "12", "10.1.2.3", ["a", "b"], True),
    (2, "assistant", "ERROR: boom", 500, "abc", "127.0.0.1", ["b", None], False),
    (3, "tool", "took=42ms", 301, "7.5", "8.8.8.8", None, None),
    (4, "system", None, 404, None, "not-an-ip", ["c", "ab"], True),
    (5, "user", "", None, "1.5d", "fe80::1", [], False),
    (6, None, "naïve ü", 0, "0x1p3", "10.0.999.1", ["é"], None),
    (7, "tool", 'level=ERROR " 500 ', -3, "1_000", "192.168.0.1", ["a"], True),
    (8, "assistant", "x", 1, " 4 ", "::ffff:10.0.0.1", None, False),
    (9, "user", "hello", 2, "1e3", None, ["ab"], True),
    (10, "system", "z", 3, "-2", "169.254.3.4", ["x"], False),
    (11, "user", "w", 4, "inf", "224.0.0.9", None, None),
    (12, "user", "v", 5, "1f", "0.0.0.0", None, None),
    (13, "tool", "u", 6, "NaN", "172.16.5.4", None, True),
    (14, "tool", "t", 7, "", "300.1.1.1", ["ba"], False),
]
_SCHEMA = ("id int, role string, text string, code int, num string, ip string,"
           " tags array<string>, flag boolean")
_MISSING = "nope"
_STRS = st.sampled_from(["a", "b", "ab", "o", "ERROR", "", "é", "level=", "user"])
_EQUALS = {
    "role": st.sampled_from(["user", "tool", "x"]),
    "code": st.sampled_from([0, 200, 500, -3]),
    "flag": st.booleans(),
    "num": st.sampled_from(["12", "abc"]),
    _MISSING: _STRS,
}
_NETWORKS = st.sampled_from([
    "private", "loopback", "public", "multicast", "link_local_unicast",
    "unspecified", "8.8.0.0/16", "10.0.0.1", "192.168.0.0/24", "172.16.0.0/12",
])


def _fields(draw, names, value):
    keys = draw(st.lists(st.sampled_from(names), min_size=1, max_size=2, unique=True))
    return {k: draw(value(k)) for k in keys}


def _any_of(values):
    return st.one_of(values, st.lists(values, min_size=1, max_size=3))


@st.composite
def _condition(draw, depth=0):
    kind = draw(st.sampled_from(
        ["equals", "contains", "regexp", "range", "has_fields", "network"]
        + (["and", "or", "not"] if depth < 3 else [])))
    if kind == "equals":
        return {kind: _fields(draw, list(_EQUALS), _EQUALS.get)}
    if kind == "contains":
        return {kind: _fields(draw, ["text", "role", "tags", "code", _MISSING],
                              lambda _: _any_of(_STRS))}
    if kind == "regexp":
        pats = st.sampled_from(["^hello", r"took=\d+ms", "o", "ERROR|boom", "",
                                '(level=ERROR|" 500 )'])
        return {kind: _fields(draw, ["text", "role", "code", _MISSING],
                              lambda _: pats)}
    if kind == "range":
        bound = st.one_of(st.integers(-5, 600), st.sampled_from([0.5, 4.0, 1e3]))
        ops = st.dictionaries(st.sampled_from(["gte", "gt", "lte", "lt"]), bound,
                              min_size=1, max_size=2)
        body = _fields(draw, ["code", "num", "text", _MISSING], lambda _: ops)
        if draw(st.booleans()):  # the flattened shape
            body = {f"{f}.{op}": v for f, o in body.items() for op, v in o.items()}
        return {kind: body}
    if kind == "has_fields":
        return {kind: draw(st.lists(st.sampled_from(["text", "code", "tags", _MISSING]),
                                    min_size=1, max_size=3))}
    if kind == "network":
        return {kind: _fields(draw, ["ip", _MISSING], lambda _: _any_of(_NETWORKS))}
    if kind == "not":
        return {kind: draw(_condition(depth + 1))}
    return {kind: draw(st.lists(_condition(depth + 1), min_size=1, max_size=3))}


@pytest.fixture(scope="module")
def twin_frames(spark):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, role VARCHAR, text VARCHAR, code INTEGER,"
                " num VARCHAR, ip VARCHAR, tags VARCHAR[], flag BOOLEAN)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?, ?, ?)", _ROWS)
    yield spark.createDataFrame(_ROWS, _SCHEMA).cache(), con
    con.close()


@settings(max_examples=40, deadline=None)
@given(st.lists(_condition(), min_size=1, max_size=6))
def test_sql_renderer_matches_spark(twin_frames, cfgs):
    """Every kind renders in DuckDB with the Spark semantics, over the
    schema the Spark side resolves against."""
    df, con = twin_frames
    spark_rows = df.select(
        "id", *[compile_condition(c, df).alias(f"c{i}") for i, c in enumerate(cfgs)]
    ).collect()
    for i, cfg in enumerate(cfgs):
        spark_ids = sorted(r.id for r in spark_rows if r[f"c{i}"])
        sql = condition_sql(cfg, df.schema)
        duck_ids = [r[0] for r in con.execute(
            f"SELECT id FROM t WHERE {sql} ORDER BY id").fetchall()]
        assert spark_ids == duck_ids, (cfg, sql)


def test_string_matchers_read_a_non_string_scalar_as_false(twin_frames):
    # Beats' matcher reads strings only: `code` (int) matches nothing under
    # contains / regexp, though Spark would cast 5 to '5' and match
    df, con = twin_frames
    for cfg in ({"contains": {"code": "5"}}, {"regexp": {"code": "5"}},
                {"not": {"contains": {"code": "5"}}}):
        spark_ids = sorted(r.id for r in df.where(compile_condition(cfg, df)).collect())
        sql = condition_sql(cfg, df.schema)
        duck_ids = [r[0] for r in con.execute(
            f"SELECT id FROM t WHERE {sql} ORDER BY id").fetchall()]
        assert spark_ids == duck_ids, cfg
        if "not" not in cfg:
            assert spark_ids == []
