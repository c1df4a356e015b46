"""The convert type lattice: its Column form equals its scalar reference.

`operators.parse.convert_col` (what grok and dissect captures and the
`convert` processor compile to, run on the JVM) and `grok._convert_scalar`
(what `Grok.grok` and `Dissector.dissect` apply) both gate on
`grok.CONVERT_SYNTAX`; for every type they must give the same value for the
same string. So must `operators.parse.convert_sql`, the DuckDB twin the
oracles use. Floats compare after rounding the scalar's double to float32,
which is what the Column form does too.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from beats_spark.grok import CONVERT_SYNTAX, _convert_scalar
from beats_spark.operators import parse as P

_TYPES = ["string", *CONVERT_SYNTAX]

_FRAGMENTS = [*"0123456789", "+", "-", ".", "e", "E", "_", "x", "X", " ",
              "\t", "\n", "١", "٢", "nan", "inf", "infinity", "NaN", "a", "F",
              "t", "true", ":", "%", "10.", "255", "0x", "9999999999"]

# each a value on which two of the lattice's former implementations disagreed
_TABLE = [
    "9007199254740993", "9223372036854775807", "-9223372036854775808",
    "1.0", "1e3", "010", "1_000", "0b1", "0o7", "١٢", "0x10", "-0x10",
    "0x8000000000000000", "0x00000000000000000010", "0x1ffffffffffffffff",
    "3000000000",
    "999.1.1.1", "1.2.3.4\n", "fe80::1%eth0", "fe80::1%é", " 12\t", "+nan",
    "-Infinity", "TRUE", "yes", "1d", "0x1p3",
    # the two the pandas conversion read differently from the scalar
    "1.5", "99999999999999999999",
]


def _want(v, dtype):
    want = _convert_scalar(v, dtype)
    if dtype == "float" and want is not None:
        with np.errstate(over="ignore"):
            return float(np.float32(want))
    return want


def _same(got, want) -> bool:
    if isinstance(got, float) and isinstance(want, float) and got != got:
        return want != want  # NaN
    return type(got) is type(want) and got == want


def _check(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    rows = df.select(
        *[P.convert_col(F.col("s"), t).alias(t) for t in _TYPES]
    ).collect()
    for v, row in zip(values, rows):
        for t in _TYPES:
            assert _same(row[t], _want(v, t)), (v, t, row[t], _want(v, t))


def _check_sql(values):
    cols = ", ".join(f'{P.convert_sql("s", t)} AS "{t}"' for t in _TYPES)
    with duckdb.connect() as con:
        con.execute("CREATE TABLE v (i INTEGER, s VARCHAR)")
        con.executemany("INSERT INTO v VALUES (?, ?)", list(enumerate(values)))
        rows = con.execute(f"SELECT {cols} FROM v ORDER BY i").fetchall()
    for v, row in zip(values, rows):
        for t, got in zip(_TYPES, row):
            assert _same(got, _want(v, t)), (v, t, got, _want(v, t))


@pytest.mark.parametrize("value", _TABLE)
def test_lattice_table_rows(spark, value):
    _check(spark, ["7", value, None])
    _check_sql(["7", value, None])


@settings(max_examples=30, deadline=None)
@given(st.lists(st.lists(st.sampled_from(_FRAGMENTS), max_size=6).map("".join),
                min_size=1, max_size=40))
def test_lattice_column_equals_scalar(spark, values):
    _check(spark, values)


def test_lattice_values():
    assert [_convert_scalar(v, "long") for v in _TABLE[:6]] == [
        9007199254740993, 2**63 - 1, -(2**63), None, None, 10]
    assert [_convert_scalar(v, "long") for v in ["0x10", "-0x10", " 12\t"]] \
        == [16, -16, 12]
    assert _convert_scalar("3000000000", "integer") is None
    assert _convert_scalar("0x8000000000000000", "long") is None
    assert _convert_scalar("999.1.1.1", "ip") is None
    assert _convert_scalar("fe80::1%eth0", "ip") == "fe80::1%eth0"
    assert _convert_scalar("TRUE", "boolean") is True
    assert _convert_scalar("yes", "boolean") is None
    assert _convert_scalar("-Infinity", "double") == float("-inf")
