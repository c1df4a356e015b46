"""Dissect compiler tests.

Three layers, mirroring the reference's test strategy (SURVEY.md §5):
1. our own golden corpus (tests/golden/dissect_corpus.json, same JSON shape
   as the reference's dissect_tests.json);
2. vectorized (pandas str.extract) path, its raw captures converted, must
   agree with the scalar path;
3. optional parity run against the reference's full golden corpus read
   directly from /root/reference (skipped when unavailable; never copied).
"""

from __future__ import annotations

import json
import math
import os

import pandas as pd
import pytest

from beats_spark.dissect import DissectError, Dissector
from beats_spark.grok import _convert_scalar

HERE = os.path.dirname(__file__)
REF_CORPUS = "/root/reference/libbeat/processors/dissect/testdata/dissect_tests.json"


def load_cases(path):
    with open(path) as fh:
        return [c for c in json.load(fh) if not c.get("skip")]


def norm(v):
    # JSON has no int/float distinction in "expected"; compare loosely
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    return v


@pytest.mark.parametrize("case", load_cases(os.path.join(HERE, "golden/dissect_corpus.json")),
                         ids=lambda c: c["name"])
def test_own_corpus_scalar(case):
    d = Dissector(case["tok"])
    got = d.dissect(case["msg"])
    if case["fail"]:
        assert got is None
    else:
        assert got is not None, f"expected match, got failure"
        exp = case["expected"]
        assert {k: norm(v) for k, v in got.items()} == {k: norm(v) for k, v in exp.items()}


@pytest.mark.parametrize("case", load_cases(os.path.join(HERE, "golden/dissect_corpus.json")),
                         ids=lambda c: c["name"])
def test_own_corpus_vectorized_matches_scalar(case):
    d = Dissector(case["tok"])
    s = pd.Series([case["msg"], None, "no match whatsoever \x00"])
    frame = d.dissect_frame(s)
    scalar = d.dissect(case["msg"])
    assert list(frame.columns) == d.static_keys
    row = frame.iloc[0]
    if scalar is None:
        assert all(pd.isna(v) for v in row), row
    else:
        for k in d.static_keys:
            exp = scalar.get(k)
            # the frame holds raw captures; the Spark operator types them
            got = _convert_scalar(None if pd.isna(row[k]) else row[k],
                                  d.key_types[k])
            if exp is None:
                assert got is None
            elif isinstance(exp, float):
                assert math.isclose(got, exp)
            else:
                assert got == exp, (k, got, exp)
    # null input row is all-NaN
    assert all(pd.isna(v) for v in frame.iloc[1])


@pytest.mark.skipif(not os.path.exists(REF_CORPUS), reason="reference corpus unavailable")
def test_reference_corpus_parity():
    """Run the reference's own golden corpus through our compiler (read-only)."""
    cases = load_cases(REF_CORPUS)
    failures = []
    for case in cases:
        try:
            d = Dissector(case["tok"])
        except DissectError:
            if case["fail"]:
                continue
            failures.append((case["name"], "compile error"))
            continue
        got = d.dissect(case["msg"])
        if case["fail"]:
            if got is not None:
                failures.append((case["name"], f"expected fail, got {got}"))
        else:
            exp = case["expected"]
            if got is None:
                failures.append((case["name"], "expected match, got failure"))
            elif {k: str(v) for k, v in got.items()} != {k: str(v) for k, v in exp.items()}:
                failures.append((case["name"], f"\n got: {got}\n exp: {exp}"))
    assert not failures, "\n".join(f"{n}: {m}" for n, m in failures)


def test_append_join_is_preceding_delimiter():
    # join string = the delimiter preceding each append field (field.go:230-234)
    assert Dissector("%{+x} %{+x}").dissect("a b")["x"] == "a b"
    assert Dissector("%{x}::%{+x}").dissect("a::b")["x"] == "a::b"
    # append_separator is the fallback when the preceding delimiter is empty
    d = Dissector("%{+x/2#1}%{+x/1#1}", append_separator="|")
    assert d.dissect("ab") == {"x": "b|a"}


def test_trim_values():
    d = Dissector("[%{a}] [%{b}]", trim_values="all")
    assert d.dissect("[ x ] [ y ]") == {"a": "x", "b": "y"}


def test_invalid_tokenizer_raises():
    with pytest.raises(DissectError):
        Dissector("no keys here")
    with pytest.raises(DissectError):
        Dissector("%{a|nosuchtype}")
    with pytest.raises(DissectError):
        Dissector("%{&+bad}")


def test_static_keys_and_types():
    d = Dissector("%{ip} %{code|integer} %{?skip} %{+m} %{+m}")
    assert d.static_keys == ["ip", "code", "m"]
    assert d.key_types == {"ip": "string", "code": "integer", "m": "string"}
    assert not d.dynamic
    assert Dissector("%{*k}=%{&k}").dynamic
