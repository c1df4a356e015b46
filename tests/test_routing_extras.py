"""Routing extras: time-format keys, metadata drop, error struct."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from beats_spark.operators import parse as P
from beats_spark.routing import compile_format, fan_out, route


def test_time_format_routing_key(spark):
    df = spark.createDataFrame(
        [("user", datetime.datetime(2024, 3, 7, 12, 0, 0))],
        "role string, ts timestamp",
    )
    out = df.withColumn("k", compile_format("events-%{[role]}-%{+yyyy.MM.dd}"))
    assert out.first().k == "events-user-2024.03.07"


def test_null_field_falls_through_to_next_rule(spark):
    df = spark.createDataFrame(
        [("a", "t1"), (None, "t2")], "name string, other string"
    )
    routed = route(df, [{"key": "sink-%{[name]}"}, {"key": "fallback"}])
    got = {r.other: r._sink for r in routed.collect()}
    assert got == {"t1": "sink-a", "t2": "fallback"}


def test_mappings_with_default(spark):
    df = spark.createDataFrame([("user",), ("tool",), ("alien",)], "role string")
    routed = route(df, [{
        "key": "%{[role]}",
        "mappings": {"user": "humans", "tool": "machines"},
        "mapping_default": "misc",
    }])
    got = {r.role: r._sink for r in routed.collect()}
    assert got == {"user": "humans", "tool": "machines", "alien": "misc"}


def test_fan_out_drops_meta_columns(spark, tmp_path):
    df = spark.createDataFrame(
        [("c1", "x", "raw-idx", "s1")],
        "conv_id string, text string, _meta_raw_index string, _sink string",
    )
    base = str(tmp_path / "sinks")
    fan_out(df, base)
    back = spark.read.parquet(base)
    assert "_meta_raw_index" not in back.columns
    assert back.count() == 1


def test_checkpointed_fan_out_drops_meta_columns(spark, tmp_path):
    """The resumable writer stages through fan_out, so committed sinks carry
    no @metadata either."""
    from beats_spark.checkpoint import checkpointed_fan_out

    df = spark.createDataFrame(
        [("c1", "x", "raw-idx", "s1"), ("c2", "y", "raw-idx", "s2")],
        "conv_id string, text string, _meta_raw_index string, _sink string",
    )
    base = str(tmp_path / "sinks")
    manifest = checkpointed_fan_out(df, base, job_id="meta1")
    assert sorted(manifest["sinks"]) == ["s1", "s2"]
    back = spark.read.parquet(base)
    assert not [c for c in back.columns if c.startswith("_meta_")]
    assert back.count() == 2


def test_parse_failure_sets_error_struct(spark):
    df = spark.createDataFrame([("a=1 ok",), ("nope",)], "text string")
    out = P.dissect(df, "a=%{val} %{rest}", field="text", target_prefix="d")
    rows = {r.text: r for r in out.collect()}
    assert rows["nope"].error.type == "parse"
    assert "dissect" in rows["nope"].error.message
    assert rows["a=1 ok"].error is None
    g = P.grok(df, [r"^a=%{INT:v:int} %{WORD:w}$"], field="text", target_prefix="g")
    rows = {r.text: r for r in g.collect()}
    assert rows["nope"].error is not None
    assert rows["a=1 ok"].error is None


def test_iceberg_gate_reports_exact_blocker(spark):
    """format='iceberg' is wired but env-gated: without the runtime jar the
    probe is False and fan_out_iceberg raises the recorded blocker; with a
    jar present the same call writes one partitioned table."""
    from beats_spark.routing import fan_out_iceberg, iceberg_available

    df = spark.createDataFrame([(1, "a")], "x int, _sink string")
    if iceberg_available(spark):
        import pytest as _pytest

        _pytest.skip("Iceberg runtime present: gate branch unreachable")
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="DATA_SOURCE_NOT_FOUND"):
        fan_out_iceberg(df, "local.db.routed")
