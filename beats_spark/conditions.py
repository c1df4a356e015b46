"""Condition DSL → Spark Column compiler and its DuckDB SQL twin.

Reimplements the Beats condition grammar (reference:
/root/reference/libbeat/conditions/conditions.go:30-99) as a compiler from
config dicts to Catalyst Column predicates. Because conditions become plain
Column expressions, Catalyst pushes them into the parquet/Iceberg scan
(predicate pushdown) and folds constant sub-trees — the optimizer work Beats
does by hand (compiled matchers, literal fast paths) comes for free.

Grammar (config dict keys):
    equals:     {field: const, ...}          AND of equality (string/int/bool
                only — reference: equals.go:27-108)
    contains:   {field: substr | [substr]}   substring, any-of for lists
                (matcher.go:39-95); array fields match on any element
    regexp:     {field: pattern}             RE2-style substring match;
                both read a non-string scalar field as FALSE
    range:      {field.gte: v, field.lt: v}  or {field: {gte: v, ...}}
                numeric compare (range.go:27-130); a value that is no
                number is FALSE
    has_fields: [field, ...]                 all present/non-null
    network:    {field: cidr | name | [..]}  IPv4 CIDR / named ranges
                (network.go:44-140)
    and / or:   [condition, ...]             combinators
    not:        condition

Null semantics: a missing field (absent from the schema OR null at runtime)
makes the leaf condition FALSE, never null — matching the reference
(equals.go:97-99, range.go:112-115). Spark's three-valued logic is collapsed
with coalesce(pred, FALSE) at every leaf.

One walker (`_walk`) does the grammar for both engines: `compile_condition`
renders a Column, `condition_sql` the DuckDB SQL of the correctness oracles.
Each leaf's Column sits beside its SQL twin, and `_LEAVES` dispatches every
kind to both, so every kind renders in both engines.
"""

from __future__ import annotations

import operator
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.operators.parse import convert_col, convert_sql

_RANGE_OPS = {"gte": (operator.ge, ">="), "gt": (operator.gt, ">"),
              "lte": (operator.le, "<="), "lt": (operator.lt, "<")}

# IPv4 named networks (reference network.go:117-140 covers the Go stdlib
# classifications; we implement the IPv4 subset — transcripts carry no IPv6).
_NAMED_NETWORKS: dict[str, list[str]] = {
    "loopback": ["127.0.0.0/8"],
    "private": ["10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16"],
    "multicast": ["224.0.0.0/4"],
    "link_local_unicast": ["169.254.0.0/16"],
    "unspecified": ["0.0.0.0/32"],
}


class ConditionError(ValueError):
    pass


def _field_type(schema: T.StructType, path: str) -> T.DataType | None:
    """The type at a dot path (mapstr.M GetValue, reference event.go:84-104),
    None when the schema lacks it."""
    cur: T.DataType = schema
    for p in path.split("."):
        if not isinstance(cur, T.StructType):
            return None
        match = next((f for f in cur.fields if f.name == p), None)
        if match is None:
            return None
        cur = match.dataType
    return cur


def sql_str(s: str) -> str:
    """A SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


# -- combinators --------------------------------------------------------------


def _leaf(pred: Column) -> Column:
    """Missing/null ⇒ FALSE (reference equals.go:97-99)."""
    return F.coalesce(pred, F.lit(False))


def _all(preds: list[Column]) -> Column:
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _any(preds: list[Column]) -> Column:
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def _all_sql(preds: list[str]) -> str:
    return "(" + " AND ".join(preds) + ")"


def _any_sql(preds: list[str]) -> str:
    return "(" + " OR ".join(preds) + ")"


# -- leaves: each one's Column beside its SQL twin -----------------------------
# A leaf gets (field, its schema type, one item of the field's config) and
# returns the bare predicate; the walker folds and coalesces.


def _equals(field: str, ftype: T.DataType, value: Any) -> Column:
    return F.col(field) == F.lit(value)


def _equals_sql(field: str, ftype: T.DataType, value: Any) -> str:
    if isinstance(value, bool):
        return f"{field} = {'TRUE' if value else 'FALSE'}"
    return f"{field} = {sql_str(value) if isinstance(value, str) else value}"


def _unmatchable(ftype: T.DataType) -> bool:
    """A scalar the schema types as no string: Beats' matcher reads only
    strings (libbeat/conditions/matcher.go), so `contains` and `regexp`
    read it as FALSE (Spark would cast it to a string and match)."""
    return ftype is not _ASSUMED and not isinstance(
        ftype, (T.StringType, T.ArrayType))


def _contains(field: str, ftype: T.DataType, value: str) -> Column:
    if _unmatchable(ftype):
        return F.lit(False)
    if isinstance(ftype, T.ArrayType):
        return F.exists(F.col(field), lambda x: x.contains(F.lit(value)))
    return F.col(field).contains(F.lit(value))


def _contains_sql(field: str, ftype: T.DataType, value: str) -> str:
    if _unmatchable(ftype):
        return "FALSE"
    if isinstance(ftype, T.ArrayType):
        return f"len(list_filter({field}, x -> contains(x, {sql_str(value)}))) > 0"
    return f"contains({field}, {sql_str(value)})"


def _regexp(field: str, ftype: T.DataType, pattern: str) -> Column:
    if _unmatchable(ftype):
        return F.lit(False)
    return F.col(field).rlike(pattern)


def _regexp_sql(field: str, ftype: T.DataType, pattern: str) -> str:
    if _unmatchable(ftype):
        return "FALSE"
    return f"regexp_matches({field}, {sql_str(pattern)})"


def _range(field: str, ftype: T.DataType, op_bound: tuple[str, float]) -> Column:
    """Float compare (range.go:112-130). A string goes through the convert
    lattice's double, whose twins agree where the engines' own casts do not
    (Spark reads `1.5d` and `0x1p3`, DuckDB `1_000`)."""
    op, bound = op_bound
    c = (convert_col(F.col(field), "double") if isinstance(ftype, T.StringType)
         else F.col(field).try_cast("double"))
    return _RANGE_OPS[op][0](c, F.lit(float(bound)))


def _range_sql(field: str, ftype: T.DataType, op_bound: tuple[str, float]) -> str:
    op, bound = op_bound
    c = (convert_sql(field, "double") if isinstance(ftype, T.StringType)
         else f"TRY_CAST({field} AS DOUBLE)")
    return f"{c} {_RANGE_OPS[op][1]} {float(bound)}"


def _has_field(field: str, ftype: T.DataType, _: None) -> Column:
    return F.col(field).isNotNull()


def _has_field_sql(field: str, ftype: T.DataType, _: None) -> str:
    return f"{field} IS NOT NULL"


# -- IPv4 CIDR arithmetic (pure Column math — no UDF) -------------------------


def _ipv4_int_col(col: Column) -> Column:
    o = F.split(col, r"\.")
    as_int = (
        o.getItem(0).cast("long") * 16777216
        + o.getItem(1).cast("long") * 65536
        + o.getItem(2).cast("long") * 256
        + o.getItem(3).cast("long")
    )
    # the convert lattice's ip literals; the IPv6 ones all hold a colon
    return F.when(convert_col(col, "ip").isNotNull() & ~col.contains(":"), as_int)


def _ipv4_int_sql(expr: str) -> str:
    """`_ipv4_int_col`'s DuckDB twin."""
    octets = " + ".join(
        f"CAST(split_part({expr}, '.', {i}) AS BIGINT) * {w}"
        for i, w in enumerate((16777216, 65536, 256, 1), 1)
    )
    return (f"(CASE WHEN {convert_sql(expr, 'ip')} IS NOT NULL"
            f" AND NOT contains({expr}, ':') THEN {octets} END)")


def _cidr_bounds(cidr: str) -> tuple[int, int]:
    base, _, bits_s = cidr.partition("/")
    bits = int(bits_s) if bits_s else 32
    parts = [int(p) for p in base.split(".")]
    if len(parts) != 4 or not 0 <= bits <= 32 or any(not 0 <= p <= 255 for p in parts):
        raise ConditionError(f"bad CIDR {cidr!r}")
    ip = (parts[0] << 24) | (parts[1] << 16) | (parts[2] << 8) | parts[3]
    mask = ((1 << bits) - 1) << (32 - bits) if bits else 0
    lo = ip & mask
    hi = lo | (~mask & 0xFFFFFFFF)
    return lo, hi


def _network_bounds(value: str) -> list[tuple[int, int]]:
    """The ranges of a named network, CIDR or bare IP; for `public`, the
    special ranges (every named one) that it lies outside of."""
    if value == "public":
        return [_cidr_bounds(c) for cidrs in _NAMED_NETWORKS.values() for c in cidrs]
    return [_cidr_bounds(c) for c in _NAMED_NETWORKS.get(value, [value])]


def _network_pred(field: str, ftype: T.DataType, value: str) -> Column:
    ip = _ipv4_int_col(F.col(field))
    inside = [(ip >= lo) & (ip <= hi) for lo, hi in _network_bounds(value)]
    if value == "public":  # a valid IPv4 address in no special range
        return ip.isNotNull() & _all([~p for p in inside])
    return _any(inside)


def _network_sql(field: str, ftype: T.DataType, value: str) -> str:
    """`_network_pred`'s DuckDB twin."""
    ip = _ipv4_int_sql(field)
    inside = [f"{ip} BETWEEN {lo} AND {hi}" for lo, hi in _network_bounds(value)]
    if value == "public":
        return _all_sql([f"{ip} IS NOT NULL"] + [f"NOT ({p})" for p in inside])
    return _any_sql(inside)


# kind → (Spark leaf, DuckDB leaf)
_LEAVES = {
    "equals": (_equals, _equals_sql),
    "contains": (_contains, _contains_sql),
    "regexp": (_regexp, _regexp_sql),
    "range": (_range, _range_sql),
    "has_fields": (_has_field, _has_field_sql),
    "network": (_network_pred, _network_sql),
}


# -- the walker ----------------------------------------------------------------


class _Engine(NamedTuple):
    """What the walker needs of one engine: its combinators and its side
    of `_LEAVES`."""
    false: Callable[[], Any]
    leaf: Callable[[Any], Any]
    all: Callable[[list], Any]
    any: Callable[[list], Any]
    not_: Callable[[Any], Any]
    side: int


_SPARK = _Engine(lambda: F.lit(False), _leaf, _all, _any, operator.invert, 0)
_SQL = _Engine(lambda: "FALSE", lambda e: f"COALESCE({e}, FALSE)",
               _all_sql, _any_sql, lambda e: f"(NOT {e})", 1)
# condition_sql without a schema: every field present and scalar
_ASSUMED = T.DataType()


def _normalize_range(body: dict) -> dict[str, dict[str, float]]:
    """Accept both flattened ('code.gte': 400) and nested ({'code': {'gte': 400}})."""
    out: dict[str, dict[str, float]] = {}
    for key, val in body.items():
        if isinstance(val, dict):
            out.setdefault(key, {}).update(val)
        else:
            field, _, op = key.rpartition(".")
            if not field:
                raise ConditionError(f"bad range key {key!r}")
            out.setdefault(field, {})[op] = val
    bad = [op for ops in out.values() for op in ops if op not in _RANGE_OPS]
    if bad:
        raise ConditionError(f"bad range op {bad[0]!r}")
    return out


def _items(kind: str, body: Any) -> dict[str, list]:
    """field → the leaf items of one kind's config."""
    if kind == "has_fields":
        return {f: [None] for f in body}
    if kind == "range":
        return {f: list(ops.items()) for f, ops in _normalize_range(body).items()}
    if kind == "equals":
        for v in body.values():
            if not isinstance(v, (str, int)):  # bool is an int
                raise ConditionError(
                    f"equals only accepts string/int/bool (reference equals.go), got {v!r}"
                )
    if kind in ("contains", "network"):  # any-of lists
        return {f: v if isinstance(v, list) else [v] for f, v in body.items()}
    return {f: [v] for f, v in body.items()}


def _walk(cfg: Any, schema: T.StructType | None, eng: _Engine) -> Any:
    if not isinstance(cfg, dict) or len(cfg) != 1:
        raise ConditionError(f"condition must have exactly one key, got: {cfg!r}")
    (kind, body), = cfg.items()
    if kind in ("and", "or"):
        return (eng.all if kind == "and" else eng.any)(
            [_walk(c, schema, eng) for c in body])
    if kind == "not":
        return eng.not_(_walk(body, schema, eng))
    if kind not in _LEAVES:
        raise ConditionError(f"unknown condition kind {kind!r}")
    leaf = _LEAVES[kind][eng.side]
    fold = eng.all if kind == "range" else eng.any  # range ops AND, any-of ORs
    preds = []
    for field, items in _items(kind, body).items():
        ftype = _ASSUMED if schema is None else _field_type(schema, field)
        preds.append(eng.false() if ftype is None
                     else eng.leaf(fold([leaf(field, ftype, i) for i in items])))
    return eng.all(preds)


def compile_condition(cfg: dict[str, Any], df: DataFrame) -> Column:
    """Compile a condition config dict to a Column predicate against df."""
    return _walk(cfg, df.schema, _SPARK)


def condition_sql(cfg: dict[str, Any], schema: T.StructType | None = None) -> str:
    """Render the condition config to DuckDB SQL with identical semantics.

    `schema`: the StructType the Spark side resolves against; absent fields
    render as FALSE, array fields match on any element. None ⇒ every
    referenced field exists and is scalar."""
    return _walk(cfg, schema, _SQL)
