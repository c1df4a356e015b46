"""Condition DSL → Spark Column compiler.

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
                (matcher.go:39-95); array fields use exists()
    regexp:     {field: pattern}             RE2-style substring match
    range:      {field.gte: v, field.lt: v}  or {field: {gte: v, ...}}
                numeric compare (range.go:27-130)
    has_fields: [field, ...]                 all present/non-null
    network:    {field: cidr | name | [..]}  IPv4 CIDR / named ranges
                (network.go:44-140)
    and / or:   [condition, ...]             combinators
    not:        condition

Null semantics: a missing field (absent from the schema OR null at runtime)
makes the leaf condition FALSE, never null — matching the reference
(equals.go:97-99, range.go:112-115). Spark's three-valued logic is collapsed
with coalesce(pred, FALSE) at every leaf.

`condition_sql()` renders the same config to DuckDB-compatible ANSI SQL so
correctness oracles share one source of truth with the engine.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.operators.parse import convert_col

_RANGE_OPS = ("gte", "gt", "lte", "lt")

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


# -- field resolution ---------------------------------------------------------


def _schema_has(schema: T.StructType, path: str) -> bool:
    parts = path.split(".")
    cur: T.DataType = schema
    for p in parts:
        if not isinstance(cur, T.StructType):
            return False
        match = next((f for f in cur.fields if f.name == p), None)
        if match is None:
            return False
        cur = match.dataType
    return True


def _field_type(schema: T.StructType, path: str) -> T.DataType | None:
    parts = path.split(".")
    cur: T.DataType = schema
    for p in parts:
        if not isinstance(cur, T.StructType):
            return None
        match = next((f for f in cur.fields if f.name == p), None)
        if match is None:
            return None
        cur = match.dataType
    return cur


def _col(path: str) -> Column:
    # dot paths address struct fields, mirroring mapstr.M GetValue
    # (reference event.go:84-104)
    return F.col(path)


def _leaf(pred: Column) -> Column:
    """Missing/null ⇒ FALSE (reference equals.go:97-99)."""
    return F.coalesce(pred, F.lit(False))


# -- compiler -----------------------------------------------------------------


def compile_condition(cfg: dict[str, Any], df: DataFrame) -> Column:
    """Compile a condition config dict to a Column predicate against df."""
    if not isinstance(cfg, dict) or len(cfg) != 1:
        raise ConditionError(f"condition must have exactly one key, got: {cfg!r}")
    (kind, body), = cfg.items()
    schema = df.schema

    if kind == "and":
        preds = [compile_condition(c, df) for c in body]
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    if kind == "or":
        preds = [compile_condition(c, df) for c in body]
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out
    if kind == "not":
        return ~compile_condition(body, df)

    if kind == "equals":
        preds = []
        for field, value in body.items():
            if not isinstance(value, (str, int, bool)) or isinstance(value, float):
                raise ConditionError(
                    f"equals only accepts string/int/bool (reference equals.go), got {value!r}"
                )
            if not _schema_has(schema, field):
                preds.append(F.lit(False))
            else:
                preds.append(_leaf(_col(field) == F.lit(value)))
        return _all(preds)

    if kind == "contains":
        preds = []
        for field, value in body.items():
            values = value if isinstance(value, list) else [value]
            if not _schema_has(schema, field):
                preds.append(F.lit(False))
                continue
            ftype = _field_type(schema, field)
            if isinstance(ftype, T.ArrayType):
                def _elem_contains(v):
                    return lambda x: x.contains(F.lit(v))

                per_v = [F.exists(_col(field), _elem_contains(v)) for v in values]
            else:
                per_v = [_col(field).contains(F.lit(v)) for v in values]
            preds.append(_leaf(_any(per_v)))
        return _all(preds)

    if kind == "regexp":
        preds = []
        for field, pat in body.items():
            if not _schema_has(schema, field):
                preds.append(F.lit(False))
            else:
                preds.append(_leaf(_col(field).rlike(pat)))
        return _all(preds)

    if kind == "range":
        by_field = _normalize_range(body)
        preds = []
        for field, ops in by_field.items():
            if not _schema_has(schema, field):
                preds.append(F.lit(False))
                continue
            c = _col(field).cast("double")  # float compare, range.go:112-130
            sub = []
            for op, v in ops.items():
                if op == "gte":
                    sub.append(c >= F.lit(float(v)))
                elif op == "gt":
                    sub.append(c > F.lit(float(v)))
                elif op == "lte":
                    sub.append(c <= F.lit(float(v)))
                elif op == "lt":
                    sub.append(c < F.lit(float(v)))
                else:
                    raise ConditionError(f"bad range op {op!r}")
            preds.append(_leaf(_all(sub)))
        return _all(preds)

    if kind == "has_fields":
        preds = []
        for field in body:
            if not _schema_has(schema, field):
                preds.append(F.lit(False))
            else:
                preds.append(_col(field).isNotNull())
        return _all(preds)

    if kind == "network":
        preds = []
        for field, value in body.items():
            values = value if isinstance(value, list) else [value]
            if not _schema_has(schema, field):
                preds.append(F.lit(False))
                continue
            per_v = [_network_pred(_col(field), v) for v in values]
            preds.append(_leaf(_any(per_v)))
        return _all(preds)

    raise ConditionError(f"unknown condition kind {kind!r}")


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


def _normalize_range(body: dict) -> dict[str, dict[str, float]]:
    """Accept both flattened ('code.gte': 400) and nested ({'code': {'gte': 400}})."""
    out: dict[str, dict[str, float]] = {}
    for key, val in body.items():
        if isinstance(val, dict):
            out.setdefault(key, {}).update(val)
        else:
            field, _, op = key.rpartition(".")
            if op not in _RANGE_OPS or not field:
                raise ConditionError(f"bad range key {key!r}")
            out.setdefault(field, {})[op] = val
    return out


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


def _network_pred(col: Column, value: str) -> Column:
    cidrs = _NAMED_NETWORKS.get(value)
    if value == "public":
        # public = valid IPv4 and none of the special ranges
        special = [
            c for name in ("loopback", "private", "multicast",
                           "link_local_unicast", "unspecified")
            for c in _NAMED_NETWORKS[name]
        ]
        ip = _ipv4_int_col(col)
        preds = [~((ip >= lo) & (ip <= hi)) for lo, hi in map(_cidr_bounds, special)]
        return ip.isNotNull() & _all(preds)
    if cidrs is None:
        cidrs = [value]  # literal CIDR or bare IP
    ip = _ipv4_int_col(col)
    preds = [(ip >= lo) & (ip <= hi) for lo, hi in map(_cidr_bounds, cidrs)]
    return _any(preds)


# -- SQL renderer (DuckDB dialect, for correctness oracles) -------------------


def sql_str(s: str) -> str:
    """A SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


def condition_sql(cfg: dict[str, Any], fields: set[str] | None = None) -> str:
    """Render the condition config to DuckDB SQL with identical semantics.

    `fields`: known column set; absent fields render as FALSE (missing-field
    semantics). None ⇒ assume all referenced fields exist.
    """
    (kind, body), = cfg.items()

    def have(f: str) -> bool:
        return fields is None or f in fields

    if kind == "and":
        return "(" + " AND ".join(condition_sql(c, fields) for c in body) + ")"
    if kind == "or":
        return "(" + " OR ".join(condition_sql(c, fields) for c in body) + ")"
    if kind == "not":
        return f"(NOT {condition_sql(body, fields)})"

    def leaf(expr: str) -> str:
        return f"COALESCE({expr}, FALSE)"

    parts: list[str] = []
    if kind == "equals":
        for field, value in body.items():
            if not have(field):
                parts.append("FALSE")
            elif isinstance(value, bool):
                parts.append(leaf(f"{field} = {'TRUE' if value else 'FALSE'}"))
            elif isinstance(value, str):
                parts.append(leaf(f"{field} = {sql_str(value)}"))
            else:
                parts.append(leaf(f"{field} = {value}"))
    elif kind == "contains":
        for field, value in body.items():
            values = value if isinstance(value, list) else [value]
            if not have(field):
                parts.append("FALSE")
            else:
                ors = " OR ".join(f"contains({field}, {sql_str(v)})" for v in values)
                parts.append(leaf(f"({ors})"))
    elif kind == "regexp":
        for field, pat in body.items():
            if not have(field):
                parts.append("FALSE")
            else:
                parts.append(leaf(f"regexp_matches({field}, {sql_str(pat)})"))
    elif kind == "range":
        sym = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}
        for field, ops in _normalize_range(body).items():
            if not have(field):
                parts.append("FALSE")
            else:
                sub = " AND ".join(
                    f"CAST({field} AS DOUBLE) {sym[op]} {float(v)}"
                    for op, v in ops.items()
                )
                parts.append(leaf(f"({sub})"))
    elif kind == "has_fields":
        for field in body:
            parts.append(f"{field} IS NOT NULL" if have(field) else "FALSE")
    else:
        raise ConditionError(f"condition_sql: unsupported kind {kind!r}")
    return "(" + " AND ".join(parts) + ")"
