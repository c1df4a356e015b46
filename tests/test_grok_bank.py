"""GrokBank's one-regex path against the scalar reference.

`GrokBank.grok_frame` runs a whole bank as one first-match-wins regex in a
single `str.extract` pass; `Grok.grok` runs one `re.search` per pattern.
The property test draws banks that mix start-anchored and unanchored
patterns, optional groups, a leading `(?m)`, a top-level `^a|b`
alternation, semantics used twice with one type and typed `INT`, `NUMBER`
and `BASE16NUM` captures, over lines with non-ASCII text and newlines, and
checks row by row that the frame's raw captures, converted by
`_convert_scalar`, equal the scalar first match.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from beats_spark.grok import Grok, GrokBank, GrokError, _convert_scalar
from beats_spark.operators import parse as P

# each semantic keeps one type wherever it appears
_ATOMS = [
    "%{WORD:w}",
    "%{NOTSPACE:w}",
    "%{INT:n:int}",
    "%{DATA:d}",
    "(?:%{WORD:w} )?",
    "(?:x%{INT:n:int}|y%{WORD:w})",
    "%{INT:n:int}-%{INT:n:int}",
    "%{NUMBER:x:long}",
    "%{NUMBER:f:float}",
    "y%{BASE16NUM:h:int}",
]
_SEPS = [" ", ":", "é", "-", "\\n"]
_FRAGMENTS = ["foo", "12", "-3", " ", ":", "é", "ünï", "x", "y", "\n",
              "中文", "7", "-", "ß9", ".", "1.0", "0x", "fF", "3000000000"]


@st.composite
def _pattern(draw):
    def seq():
        atoms = draw(st.lists(st.sampled_from(_ATOMS), min_size=1, max_size=3))
        body = atoms[0]
        for a in atoms[1:]:
            body += draw(st.sampled_from(_SEPS)) + a
        return body + draw(st.sampled_from(["", "$"]))

    if draw(st.integers(0, 5)) == 0:
        return f"^{seq()}|{seq()}"  # top-level alternation: not anchored
    return draw(st.sampled_from(["", "^", "(?m)", "(?m)^"])) + seq()


_LINE = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_FRAGMENTS), max_size=8).map("".join),
)


def _scalar_first(groks, keys, line):
    for g in groks:
        got = g.grok(line)
        if got is not None:
            return {k: got.get(k) for k in keys}, True
    return {k: None for k in keys}, False


@settings(max_examples=300, deadline=None)
@given(st.lists(_pattern(), min_size=1, max_size=4),
       st.lists(_LINE, min_size=1, max_size=12))
def test_bank_frame_equals_scalar_first_match(patterns, lines):
    bank = GrokBank(patterns)
    frame = bank.grok_frame(pd.Series(lines, dtype="object"))
    for i, line in enumerate(lines):
        want, matched = _scalar_first(bank.groks, bank.output_keys, line)
        row = frame.iloc[i]
        got = {k: _convert_scalar(None if pd.isna(row[k]) else row[k],
                                  bank.key_types[k])
               for k in bank.output_keys}
        assert (got, bool(row["_grok_matched"])) == (want, matched), (
            patterns, line)


def test_numbered_backreference_rejected():
    with pytest.raises(GrokError, match="backreference"):
        GrokBank([r"^%{WORD:a} (\w)x\1", r"%{WORD:b}"])
    with pytest.raises(GrokError, match="backreference"):
        Grok(r"(a)\1")
    # an escaped backslash before a digit, or an octal escape in a class,
    # is not a backreference
    assert Grok(r"a\\1").grok("a\\1") == {}
    assert Grok(r"[\1]x").grok("\x01x") == {}


def test_grok_non_integral_long_is_null(spark):
    df = spark.createDataFrame([("took 1.5",), ("took 3",)], "text string")
    out = P.grok(df, r"took %{NUMBER:n:long}", field="text", target_prefix="g")
    got = [r["n"] for r in out.select("g.n").collect()]
    assert got == [None, 3]
    assert out.where(F.col("g").isNull()).count() == 0


def test_grok_int_out_of_int32_is_null(spark):
    df = spark.createDataFrame([("took 3000000000",), ("took 3",)], "text string")
    out = P.grok(df, r"took %{NUMBER:n:int}", field="text", target_prefix="g")
    assert [r["n"] for r in out.select("g.n").collect()] == [None, 3]
    assert out.where(F.col("g").isNull()).count() == 0


def test_grok_long_exact_beside_null_row(spark):
    # one batch: a NULL row once turned the batch's integers into doubles
    df = spark.createDataFrame(
        [("took 9007199254740993",), (None,), ("took 1.0",)], "text string"
    ).coalesce(1)
    out = P.grok(df, r"took %{NUMBER:n:long}", field="text", target_prefix="g")
    got = [(r["g"] is None, r["g"] and r["g"]["n"]) for r in out.collect()]
    assert got == [(False, 9007199254740993), (True, None), (False, None)]


def test_grok_oracle_overflow_is_null_like_spark(spark):
    # a `long` capture past int64: the convert lattice reads NULL; a plain
    # DuckDB CAST would fail the whole oracle query instead
    import duckdb

    from beats_spark.pipeline import TRANSCRIPT_PATTERNS, parse_stage
    from beats_spark.queries import grok_extract_sql

    line = ('level=INFO ts=2024-01-01T00:00:00Z caller=a.go:1 msg="hi" '
            'value=99999999999999999999 took=5ms')
    (row,) = parse_stage(
        spark.createDataFrame([(line,)], "text string")
    ).select("parsed.value", "parsed.took_ms").collect()
    assert (row["value"], row["took_ms"]) == (None, 5)
    frags = grok_extract_sql(TRANSCRIPT_PATTERNS[0])
    with duckdb.connect() as con:
        got = con.execute(
            f"SELECT {frags['value']}, {frags['took_ms']} FROM (SELECT ? AS text)",
            [line],
        ).fetchone()
    assert got == (None, 5)
