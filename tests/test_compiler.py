"""Pipeline compiler: Beats-style config dicts → DataFrame program."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.compiler import CompileError, compile_pipeline

ROWS = [
    ("c1", 0, "user", '1.2.3.4 GET /a', None),
    ("c1", 1, "assistant", '5.6.7.8 POST /b', "bash"),
    ("c2", 0, "system", 'bad line', None),
]
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string"


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_ordered_program(df):
    prog = compile_pipeline([
        {"dissect": {"tokenizer": "%{ip} %{verb} %{path}", "field": "text",
                     "target_prefix": "d"}},
        {"copy_fields": {"fields": [{"from": "d.verb", "to": "verb"}]}},
        {"lowercase": {"fields": ["verb"]}},
        {"add_fields": {"fields": {"env": "prod"}, "target": None}},
    ])
    out = {r.conv_id + str(r.turn_idx): r for r in prog(df).collect()}
    assert out["c10"].verb == "get"
    assert out["c11"].verb == "post"
    assert out["c20"].verb is None  # dissect failed -> null struct
    assert out["c10"].env == "prod"


def test_when_guard_row_conditional(df):
    prog = compile_pipeline([
        {"uppercase": {"fields": ["role"],
                       "when": {"equals": {"conv_id": "c1"}}}},
    ])
    got = {(r.conv_id, r.turn_idx): r.role for r in prog(df).collect()}
    assert got[("c1", 0)] == "USER"
    assert got[("c2", 0)] == "system"  # untouched


def test_when_new_column_null_on_nonmatch(df):
    prog = compile_pipeline([
        {"fingerprint": {"fields": ["text"], "when": {"equals": {"role": "user"}}}},
    ])
    rows = {r.role: r.fingerprint for r in prog(df).collect()}
    assert rows["user"] is not None
    assert rows["system"] is None


def test_drop_event_and_if_then_else(df):
    prog = compile_pipeline([
        {"drop_event": {"when": {"contains": {"text": "bad"}}}},
        {"if": {"equals": {"role": "user"}},
         "then": [{"add_tags": {"tags": ["human"]}}],
         "else": [{"add_tags": {"tags": ["machine"]}}]},
    ])
    out = prog(df).collect()
    assert len(out) == 2
    tags = {r.role: r.tags for r in out}
    assert tags["user"] == ["human"]
    assert tags["assistant"] == ["machine"]


def test_nested_if(df):
    prog = compile_pipeline([
        {"if": {"equals": {"conv_id": "c1"}},
         "then": [
             {"if": {"equals": {"role": "user"}},
              "then": [{"add_fields": {"fields": {"cls": "u"}, "target": None}}],
              "else": [{"add_fields": {"fields": {"cls": "a"}, "target": None}}]},
         ],
         "else": [{"add_fields": {"fields": {"cls": "other"}, "target": None}}]},
    ])
    got = {(r.conv_id, r.turn_idx): r.cls for r in prog(df).collect()}
    assert got == {("c1", 0): "u", ("c1", 1): "a", ("c2", 0): "other"}


def test_unknown_processor_and_bad_when(df):
    with pytest.raises(CompileError, match="unknown processor"):
        compile_pipeline([{"frobnicate": {}}])
    with pytest.raises(CompileError, match="drop_event requires"):
        compile_pipeline([{"drop_event": {}}])
    with pytest.raises(CompileError, match="cannot be row-conditional"):
        compile_pipeline([
            {"sample": {"fraction": 0.5, "fields": ["conv_id"],
                        "when": {"equals": {"role": "user"}}}}
        ])


def test_program_order_is_visible_to_later_steps(df):
    # rename then dissect the renamed column — order must be preserved
    prog = compile_pipeline([
        {"rename": {"fields": [{"from": "text", "to": "raw"}]}},
        {"dissect": {"tokenizer": "%{ip} %{rest}", "field": "raw",
                     "target_prefix": "d"}},
    ])
    out = prog(df).first()
    assert "text" not in prog(df).columns
    assert out.d.ip == "1.2.3.4"


def test_when_guarded_rename_keeps_nonmatching_rows(df):
    # ADVICE r1: a column-removing processor under `when` must leave
    # non-matching rows untouched (reference WhenProcessor semantics) —
    # previously the pre-image was discarded for ALL rows
    prog = compile_pipeline([
        {"rename": {"fields": [{"from": "tool", "to": "tool2"}],
                    "when": {"equals": {"role": "assistant"}}}},
    ])
    rows = {r.role: r for r in prog(df).collect()}
    assert rows["assistant"].tool2 == "bash"
    assert rows["assistant"].tool is None        # matched: renamed away
    assert rows["user"].tool is None             # was null, stays null
    assert rows["system"].tool is None
    assert rows["system"].tool2 is None          # non-match: no new value


def test_when_guarded_drop_fields_restores_nonmatch(df):
    prog = compile_pipeline([
        {"drop_fields": {"fields": ["tool"],
                         "when": {"equals": {"conv_id": "c1"}}}},
    ])
    rows = {(r.conv_id, r.turn_idx): r for r in prog(df).collect()}
    assert rows[("c1", 1)].tool is None          # matched: dropped
    assert rows[("c2", 0)].tool is None          # originally null
    # non-matching rows keep their pre-image (c1 rows matched here, so use
    # a frame where the kept value is non-null on a non-matching row)
    df2 = df.sparkSession.createDataFrame(
        [("c9", 0, "tool", "x", "search")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    assert prog(df2).first().tool == "search"


# --- script-program composition surface (VERDICT r4 task 6) ----------------
# The reference's chain module lets a script compose registered processors
# (javascript/module/processor/chain.go); here `script: {processors: [...]}`
# compiles the inner steps through the same registry — no JS engine.

def test_script_chain_composes_registered_processors(df):
    prog = compile_pipeline([
        {"script": {"processors": [
            {"dissect": {"tokenizer": "%{ip} %{verb} %{path}",
                         "field": "text", "target_prefix": "d"}},
            {"copy_fields": {"fields": [{"from": "d.verb", "to": "verb"}]}},
            {"lowercase": {"fields": ["verb"]}},
        ]}},
        {"add_fields": {"fields": {"env": "prod"}, "target": None}},
    ])
    out = {r.conv_id + str(r.turn_idx): r for r in prog(df).collect()}
    assert out["c10"].verb == "get" and out["c11"].verb == "post"
    assert out["c10"].env == "prod"  # later top-level step sees chain writes


def test_script_when_ands_into_each_inner_step(df):
    # drop_event inside a when-guarded script: legal because the script's
    # `when` ANDs per-step (the guarded chain never goes through the
    # shape-preserving _conditional_apply stash path)
    prog = compile_pipeline([
        {"script": {
            "when": {"equals": {"conv_id": "c2"}},
            "processors": [
                {"uppercase": {"fields": ["role"]}},
                {"drop_event": {"when": {"equals": {"role": "SYSTEM"}}}},
            ],
        }},
    ])
    rows = {(r.conv_id, r.turn_idx): r for r in prog(df).collect()}
    assert ("c2", 0) not in rows          # matched script cond -> dropped
    assert rows[("c1", 0)].role == "user"  # untouched outside the guard
    assert len(rows) == 2


def test_script_nested_and_if_inside(df):
    prog = compile_pipeline([
        {"script": {"processors": [
            {"if": {"equals": {"role": "system"}},
             "then": [{"add_fields": {"fields": {"env": "sys"}, "target": None}}],
             "else": [{"script": {"processors": [
                 {"add_fields": {"fields": {"env": "app"}, "target": None}},
             ]}}]},
        ]}},
    ])
    out = {r.conv_id + str(r.turn_idx): r.env for r in prog(df).collect()}
    assert out == {"c10": "app", "c11": "app", "c20": "sys"}


def test_script_js_source_rejected_with_pointer(df):
    with pytest.raises(CompileError, match="vectorized_script"):
        compile_pipeline([{"script": {"lang": "javascript",
                                      "source": "function process(e){}"}}])
    with pytest.raises(CompileError, match="processors"):
        compile_pipeline([{"script": {}}])


def test_convert_processor_ignore_missing(df):
    # a convert spec naming an absent field is skipped with ignore_missing
    # and reported by name without it; the other specs still apply
    fields = [{"from": "missing", "type": "long"},
              {"from": "turn_idx", "to": "idx", "type": "string"}]
    prog = compile_pipeline([{"convert": {"fields": fields,
                                          "ignore_missing": True}}])
    out = prog(df)
    assert "missing" not in out.columns
    assert sorted(r.idx for r in out.collect()) == ["0", "0", "1"]
    with pytest.raises(ValueError, match="missing"):
        compile_pipeline([{"convert": {"fields": fields}}])(df)
