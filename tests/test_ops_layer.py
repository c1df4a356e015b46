"""Scale & ops layer: salting, two-phase agg, observe metrics,
checkpoint manifest + resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.checkpoint import (
    checkpointed_fan_out,
    read_manifest,
    verify_manifest,
)
from beats_spark.data.transcripts import load_transcripts
from beats_spark.metrics import PipelineMetrics, with_standard_metrics
from beats_spark.pipeline import full_pipeline
from beats_spark.scale import SALT_COL, repartition_salted, salt, salted_agg

from .conftest import SF_SMOKE


def test_salt_deterministic_and_bounded(spark):
    t = load_transcripts(spark, SF_SMOKE)
    s1 = salt(t, "conv_id", 8).select("conv_id", "turn_idx", SALT_COL)
    s2 = salt(t, "conv_id", 8).select("conv_id", "turn_idx", SALT_COL)
    assert s1.exceptAll(s2).count() == 0  # deterministic
    rng = s1.agg(F.min(SALT_COL), F.max(SALT_COL)).first()
    assert rng[0] >= 0 and rng[1] < 8
    # a single conversation is actually spread across buckets
    one = s1.filter(F.col("conv_id") == s1.first().conv_id)
    assert one.select(SALT_COL).distinct().count() > 1


def test_repartition_salted_partitioning(spark):
    t = load_transcripts(spark, SF_SMOKE)
    rp = repartition_salted(t, "conv_id", 8, num_partitions=16)
    assert rp.rdd.getNumPartitions() == 16
    assert rp.count() == t.count()


def test_salted_agg_matches_plain_agg(spark):
    t = load_transcripts(spark, SF_SMOKE)
    plain = t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"), F.max("ts").alias("last_ts")
    )
    salted = salted_agg(
        t,
        ["conv_id"],
        {"n_turns": ("sum", F.count("*")), "last_ts": ("max", F.max("ts"))},
        buckets=8,
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_pipeline_metrics_observe(spark):
    m = PipelineMetrics()
    t = load_transcripts(spark, SF_SMOKE)
    t = m.observe(t, "scan")
    from beats_spark.pipeline import parse_stage

    parsed = with_standard_metrics(m, parse_stage(t), "parse")
    n = parsed.count()  # action triggers both observations
    rep = m.report()
    assert rep["scan"]["rows"] == n
    assert rep["parse"]["rows"] == n
    assert 0 < rep["parse"]["flagged"] < n  # corrupt rows flagged, not all
    lineage = m.lineage()
    assert [s["stage"] for s in lineage] == ["scan", "parse"]


def test_checkpoint_resume_no_loss_no_dup(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    routed = full_pipeline(spark, SF_SMOKE).cache()
    total = routed.count()

    # crash after 2 sink commits
    with pytest.raises(RuntimeError, match="simulated crash"):
        checkpointed_fan_out(routed, base, job_id="job1", fail_after=2)
    m1 = read_manifest(base)
    assert len(m1["sinks"]) == 2

    # resume: completes remaining sinks only
    m2 = checkpointed_fan_out(routed, base, job_id="job1")
    assert len(m2["sinks"]) > 2
    # every row landed exactly once
    written = sum(e["rows"] for e in m2["sinks"].values())
    assert written == total
    assert all(verify_manifest(spark, base).values())

    # second resume is a no-op (manifest unchanged)
    m3 = checkpointed_fan_out(routed, base, job_id="job1")
    assert {k: v["rows"] for k, v in m3["sinks"].items()} == {
        k: v["rows"] for k, v in m2["sinks"].items()
    }
    # no staging residue after a clean finish
    import os

    assert not any(d.startswith("_staging") for d in os.listdir(base))
    routed.unpersist()


def test_checkpoint_single_pass_no_extra_persist(spark, tmp_path):
    """The resumable writer runs ONE partitionBy write job + one footer
    count per sink — no persist of the routed frame, no per-sink filter
    passes (was: persist + N filtered writes)."""
    import pyspark.sql.readwriter as RW

    base = str(tmp_path / "ckpt_sp")
    routed = full_pipeline(spark, SF_SMOKE)  # NOT cached by the test
    before = {rdd_id for rdd_id in
              spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    saves, persists = [], []
    orig_save = RW.DataFrameWriter.save
    orig_persist = type(routed).persist

    def counting_save(self, path=None, **kw):
        saves.append(path)
        return orig_save(self, path, **kw)

    def counting_persist(self, *a, **kw):
        persists.append(1)
        return orig_persist(self, *a, **kw)

    RW.DataFrameWriter.save = counting_save
    type(routed).persist = counting_persist
    try:
        m = checkpointed_fan_out(routed, base, job_id="sp1")
    finally:
        RW.DataFrameWriter.save = orig_save
        type(routed).persist = orig_persist
    assert len(m["sinks"]) >= 3
    assert len(saves) == 1 and "_staging_sp1" in saves[0]
    assert persists == []  # the writer caches nothing
    after = {rdd_id for rdd_id in
             spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}
    assert after == before
    assert all(verify_manifest(spark, base).values())


def test_checkpoint_new_job_restarts(spark, tmp_path):
    base = str(tmp_path / "ckpt2")
    routed = full_pipeline(spark, SF_SMOKE).cache()
    checkpointed_fan_out(routed, base, job_id="jobA")
    mA = read_manifest(base)
    checkpointed_fan_out(routed, base, job_id="jobB")
    mB = read_manifest(base)
    assert mB["job_id"] == "jobB"
    assert set(mA["sinks"]) == set(mB["sinks"])
    routed.unpersist()


# --- Kafka FNV-32a partitioner parity (broker-free; VERDICT r4 task 5) ----
#
# Oracle: a pure-Python transcription of the Go algorithm — hash/fnv's
# New32a (offset 2166136261, prime 16777619) folded over the key bytes as
# hashFieldValue builds them (strings UTF-8, ints little-endian native
# width), then hash2Partition's int32(h) & 0x7FFFFFFF % numPartitions
# (libbeat/outputs/kafka/partition.go:220-318).

def _go_fnv32a(data: bytes) -> int:
    h = 2166136261
    for b in data:
        h ^= b
        h = (h * 16777619) & 0xFFFFFFFF
    return h


def _go_partition(data: bytes, num_partitions: int) -> int:
    return (_go_fnv32a(data) & 0x7FFFFFFF) % num_partitions


def test_kafka_partition_string_key_parity(spark):
    from beats_spark.scale import kafka_partition

    keys = (
        ["", "a", "ab", "abc", "conv-0007", "héllo wörld", "日本語キー",
         "\x00\x01\x02", "x" * 300]
        + [f"conv-{i:06d}" for i in range(100)]
    )
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    for n in (1, 2, 3, 5, 12, 100):
        got = {
            r["k"]: r["p"]
            for r in df.withColumn(
                "p", kafka_partition(df, ["k"], n)
            ).collect()
        }
        want = {k: _go_partition(k.encode("utf-8"), n) for k in keys}
        assert got == want, f"num_partitions={n}"


def test_kafka_partition_multi_field_and_int_key_parity(spark):
    import struct

    from beats_spark.scale import kafka_partition

    rows = [(f"role-{i % 7}", i * 1_000_003 - 5) for i in range(100)]
    df = spark.createDataFrame(rows, "role string, turn bigint")
    for n in (2, 7, 16):
        got = [
            r["p"]
            for r in df.withColumn(
                "p", kafka_partition(df, ["role", "turn"], n)
            ).orderBy("turn").collect()
        ]
        want = [
            _go_partition(
                role.encode("utf-8") + struct.pack("<q", turn), n
            )
            for role, turn in sorted(rows, key=lambda r: r[1])
        ]
        assert got == want, f"num_partitions={n}"


def test_kafka_partition_int_widths_match_go_binary_write(spark):
    import struct

    from beats_spark.scale import kafka_partition

    df = spark.createDataFrame(
        [(-2, -2, -2, -2), (100, 100, 100, 100)],
        "b tinyint, s smallint, i int, l bigint",
    )
    for field, fmt in (("b", "<b"), ("s", "<h"), ("i", "<i"), ("l", "<q")):
        got = [
            r["p"]
            for r in df.withColumn(
                "p", kafka_partition(df, [field], 7)
            ).orderBy(field).collect()
        ]
        want = [_go_partition(struct.pack(fmt, v), 7) for v in (-2, 100)]
        assert got == want, field


def test_kafka_partition_null_key_is_null_and_float_rejected(spark):
    from beats_spark.scale import kafka_partition

    df = spark.createDataFrame([("a",), (None,)], "k string")
    rows = df.withColumn("p", kafka_partition(df, ["k"], 4)).collect()
    by_key = {r["k"]: r["p"] for r in rows}
    assert by_key["a"] is not None and by_key[None] is None
    fdf = spark.createDataFrame([(1.5,)], "f double")
    with pytest.raises(ValueError, match="unsupported key dtype"):
        kafka_partition(fdf, ["f"], 4)
