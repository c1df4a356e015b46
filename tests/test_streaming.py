"""Structured Streaming: stream/batch routed-row equality, windowed flows,
resume-from-checkpoint, stateful token bucket."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from beats_spark.data.transcripts import load_transcripts
from beats_spark.pipeline import full_pipeline
from beats_spark.streaming import (
    flows_stream,
    session_flows_stream,
    stream_pipeline,
    stream_transcripts,
)
from beats_spark.streaming.pipeline import write_sinks
from beats_spark.streaming.stateful import token_bucket_limit
from .test_modules import REF

APACHE_ACCESS_GOLDEN = f"{REF}/apache/access/test"

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    """Batch-derived transcripts written as a multi-file parquet dir — the
    stand-in for a tailed directory / Iceberg table."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    load_transcripts(spark, SF_SMOKE).repartition(6).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_stream_equals_batch_routing(spark, source_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = write_sinks(
        stream_pipeline(stream_transcripts(spark, source_dir)), out, ckpt
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    batch = full_pipeline(spark, SF_SMOKE)
    cols = ["conv_id", "turn_idx", "role", "text", "_sink"]
    assert streamed.count() == batch.count()
    # per-sink routed-row equality: streaming and batch agree row-for-row
    assert streamed.select(cols).exceptAll(batch.select(cols)).count() == 0
    assert batch.select(cols).exceptAll(streamed.select(cols)).count() == 0


def test_stream_resume_from_checkpoint(spark, source_dir, tmp_path):
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    # first run processes everything; second run with same checkpoint is a
    # no-op (no duplicates) — the registrar resume guarantee
    q1 = write_sinks(
        stream_pipeline(stream_transcripts(spark, source_dir)), out, ckpt
    )
    q1.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    q2 = write_sinks(
        stream_pipeline(stream_transcripts(spark, source_dir)), out, ckpt
    )
    q2.awaitTermination(120)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 > 0


def test_stream_sinks_drop_metadata(spark, source_dir, tmp_path):
    # @metadata routes but is never indexed: the stream writer drops
    # `_meta_*` as the batch fan_out does
    from beats_spark.operators.enrich import add_data_stream

    out = str(tmp_path / "out_meta")
    routed = add_data_stream(
        stream_pipeline(stream_transcripts(spark, source_dir)),
        dataset="transcripts",
    )
    assert "_meta_raw_index" in routed.columns
    q = write_sinks(routed, out, str(tmp_path / "ckpt_meta"))
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() > 0 and "data_stream" in back.columns
    assert not [c for c in back.columns if c.startswith("_meta_")]


def _run_memory_stream(spark, df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_flows_window_matches_batch(spark, source_dir):
    sdf = stream_transcripts(spark, source_dir)
    got = _run_memory_stream(spark, flows_stream(sdf, window="1 hour"), "flows_t")
    batch = (
        load_transcripts(spark, SF_SMOKE)
        .groupBy(F.window("ts", "1 hour").alias("w"), "role")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "role", "n_events")
    )
    # append mode only emits windows below the watermark; every emitted
    # window must match the batch computation exactly
    got_rows = {
        (r.window_start, r.role): r.n_events for r in got.collect()
    }
    batch_rows = {
        (r.window_start, r.role): r.n_events for r in batch.collect()
    }
    assert len(got_rows) > 0
    for k, v in got_rows.items():
        assert batch_rows[k] == v


def test_session_flows_emits(spark, source_dir):
    sdf = stream_transcripts(spark, source_dir)
    got = _run_memory_stream(
        spark, session_flows_stream(sdf, gap="10 minutes"), "sessions_t"
    )
    rows = got.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_turns >= 1 and r.first_turn <= r.last_turn


def test_token_bucket_stateful(spark, tmp_path):
    # 10 events in the same second for k1 → only `burst` pass;
    # spaced events for k2 → all pass
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [("k1", base + datetime.timedelta(milliseconds=10 * i)) for i in range(10)]
    rows += [("k2", base + datetime.timedelta(seconds=5 * i)) for i in range(4)]
    src = str(tmp_path / "tb_src")
    spark.createDataFrame(rows, "key string, ts timestamp").write.parquet(src)
    sdf = spark.readStream.schema("key string, ts timestamp").parquet(src)
    limited = token_bucket_limit(sdf, ["key"], rate_per_sec=1.0, burst=3)
    got = _run_memory_stream(spark, limited, "tb_t")
    counts = {r.key: r.n for r in got.groupBy("key").agg(F.count("*").alias("n")).collect()}
    assert counts["k1"] == 3  # burst exhausted within one second
    assert counts["k2"] == 4  # refill rate 1/s covers 5s spacing


def test_stream_exact_dedup(spark, source_dir, tmp_path):
    from beats_spark.streaming.pipeline import stream_exact_dedup

    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    q = (
        stream_exact_dedup(stream_transcripts(spark, source_dir))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    from beats_spark.dedup import normalize_text

    def _key_counts(df):
        return df.withColumn(
            "_k", F.sha2(normalize_text(F.col("text")), 256)
        ).groupBy("_k").count()

    got = _key_counts(spark.read.parquet(out))
    # exactly one survivor per content key in the streamed output …
    assert got.where("count > 1").count() == 0
    # … and every key of the batch input is represented (same key set as
    # the batch exact_dedup survivor set; which ROW survives per key is
    # arrival-order-dependent in streaming, min-id in batch)
    batch_keys = _key_counts(load_transcripts(spark, SF_SMOKE))
    assert got.count() == batch_keys.count()


def test_stream_curation_scrubbers_equal_batch(spark, tmp_path):
    # pii_redact / c4_clean / url_blocklist / deterministic_sample are
    # pure Column expressions — they must compose onto a streaming
    # DataFrame unchanged (no state, no watermark) and emit byte-identical
    # results to the batch run over the same files
    from beats_spark.sampling import deterministic_sample
    from beats_spark.textops import c4_clean, pii_redact, url_blocklist_flag

    src = str(tmp_path / "docs_src")
    rows = [
        (0, "Mail a@b.example now. See https://x.tracker.example/p today.\n"
            "A second good line with plenty of words ends here!"),
        (1, "ssn 123-45-6789 in line one with many words here.\n"
            "lorem ipsum dolor sit amet."),
        (2, "Nothing sensitive in this one at all, honestly speaking."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(src)

    def curate(frame):
        out = pii_redact(frame)
        out = c4_clean(out.withColumnRenamed("redacted", "clean_input"),
                       text_col="clean_input")
        out = url_blocklist_flag(out, text_col="clean_input")
        return deterministic_sample(out, 0.5, salt="s").select(
            "doc_id", "n_email", "n_ssn", "cleaned", "n_lines_kept",
            "keep", "blocked_url", "sampled",
        )

    batch = {r["doc_id"]: r for r in curate(spark.read.parquet(src)).collect()}

    sdf = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        curate(sdf)
        .writeStream.format("memory")
        .queryName("curated_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]: r
        for r in spark.sql("select * from curated_stream").collect()
    }
    assert streamed.keys() == batch.keys()
    for k in batch:
        assert streamed[k].asDict() == batch[k].asDict()
    assert streamed[0]["blocked_url"] and streamed[0]["n_email"] == 1


def test_stream_asof_enrich_foreachbatch_equal_batch(spark, tmp_path):
    # asof_join needs an ordered window over the unioned state+event
    # stream, so it cannot compose onto an unbounded streaming frame
    # directly; the production shape is per-microbatch point-in-time
    # enrichment against the (slowly-changing, static-per-batch) state
    # table inside foreachBatch. Streamed result must equal the batch run.
    from beats_spark.asof import asof_join

    src = str(tmp_path / "asof_src")
    ev = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "d")],
        "k int, ts int, x string",
    )
    ev.write.mode("overwrite").parquet(src)
    st = spark.createDataFrame(
        [(1, 5, 100), (1, 20, 200), (2, 99, 300)], "k int, ts int, v int"
    )

    batch = {
        (r.k, r.ts): r.v
        for r in asof_join(ev, st, on="k", values=["v"]).collect()
    }

    got: dict = {}

    def enrich(frame, _epoch_id):
        for r in asof_join(frame, st, on="k", values=["v"]).collect():
            got[(r.k, r.ts)] = r.v

    sdf = spark.readStream.schema("k int, ts int, x string").parquet(src)
    q = (
        sdf.writeStream.foreachBatch(enrich)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == batch


@pytest.mark.skipif(not os.path.exists(APACHE_ACCESS_GOLDEN),
                    reason=f"reference tree unavailable: {APACHE_ACCESS_GOLDEN}")
def test_stream_module_bank_resume_golden_equal(spark, tmp_path):
    """Module-pipeline streaming parity with checkpointed resume: the
    apache access bank runs under foreachBatch; the source arrives in two
    file batches with a full stop between them (the kill), the second run
    resumes from the SAME checkpoint and must process only the new file —
    the union of both runs equals the batch run over every line (which
    tests/test_modules.py pins golden-equal to the reference), with no
    lost and no duplicated line across the kill/resume."""
    import json
    import os

    from beats_spark.modules import apache_access

    import glob

    lines = []
    for path in sorted(glob.glob(f"{APACHE_ACCESS_GOLDEN}/*.log")):
        with open(path) as f:
            lines += f.read().splitlines()
    assert len(lines) >= 20  # all five golden files

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    half = len(lines) // 2
    df_all = spark.createDataFrame(
        list(enumerate(lines)), "idx long, message string"
    )
    batch = {
        r["idx"]: json.dumps(r, sort_keys=True, default=str)
        for r in (
            x.asDict(recursive=True)
            for x in apache_access(df_all).collect()
        )
    }

    def arrive(part, lo, hi):
        df = spark.createDataFrame(
            list(enumerate(lines))[lo:hi], "idx long, message string"
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch={part}")

    def run_stream():
        sdf = (
            spark.readStream.schema("idx long, message string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = (
            sdf.writeStream.foreachBatch(
                lambda frame, _eid:
                apache_access(frame).write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    arrive(0, 0, half)
    run_stream()          # first run, then the stream is fully stopped
    n_first = spark.read.parquet(out).count()
    assert n_first == half

    arrive(1, half, len(lines))
    run_stream()          # resume: same checkpoint, only the new file

    got_rows = spark.read.parquet(out).collect()
    got = {
        r["idx"]: json.dumps(r, sort_keys=True, default=str)
        for r in (x.asDict(recursive=True) for x in got_rows)
    }
    assert len(got_rows) == len(lines)  # no loss, no dup across resume
    assert got == batch                 # field-identical to the batch bank


def test_stream_dns_enrich_equals_batch(spark, tmp_path):
    """dns_enrich is a stateless stream-static broadcast join, so the
    streaming result must equal the batch result row-for-row — the dns
    resolver snapshot is exactly the kind of side table a streaming
    pipeline holds static between refreshes."""
    from beats_spark.operators import enrich as E

    schema = "id string, ip string"
    rows = [
        ("e1", "10.0.0.1"),
        ("e2", "10.0.0.2"),
        ("e3", "10.9.9.9"),
        ("e4", None),
    ]
    src = tmp_path / "dns_src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))
    resolution = spark.createDataFrame(
        [("10.0.0.1", ["one.example"]), ("10.0.0.2", ["two.example"])],
        "query string, answers array<string>",
    )

    def apply(df):
        return E.dns_enrich(
            df, resolution, {"ip": "host"}, qtype="reverse",
            action="append", tag_on_failure=["_dns_fail"],
        )

    sdf = spark.readStream.schema(schema).parquet(str(src))
    got = {
        (r.id,): (r.host, r.tags)
        for r in _run_memory_stream(spark, apply(sdf), "dns_t").collect()
    }
    want = {
        (r.id,): (r.host, r.tags)
        for r in apply(spark.read.parquet(str(src))).collect()
    }
    assert got == want
    assert want[("e1",)] == (["one.example"], [])
    assert want[("e3",)] == (None, ["_dns_fail"])


def test_stream_hash_split_equals_batch(spark, tmp_path):
    """hash_split is a stateless map-only CASE chain — streamable as-is,
    and the assignment must match batch exactly (the property that lets a
    streaming ingest pipeline tag train/val/test at arrival time and
    never disagree with a later batch backfill)."""
    from beats_spark.sampling import hash_split

    schema = "doc_id long, text string"
    rows = [(i, f"doc {i}") for i in range(200)]
    src = tmp_path / "split_src"
    spark.createDataFrame(rows, schema).coalesce(2).write.parquet(str(src))

    sdf = spark.readStream.schema(schema).parquet(str(src))
    got = {
        r.doc_id: r.split
        for r in _run_memory_stream(
            spark, hash_split(sdf).select("doc_id", "split"), "split_t"
        ).collect()
    }
    want = {
        r.doc_id: r.split
        for r in hash_split(spark.read.parquet(str(src)))
        .select("doc_id", "split").collect()
    }
    assert got == want and len(got) == 200


def test_stream_bloom_membership_equals_batch(spark, tmp_path):
    """The Bloom bitmap is a static side input (built once from the probe
    corpus, refreshed out-of-band); the membership test is a stateless
    stream-static one-row join, so streaming flags must equal batch."""
    from beats_spark import dedup as D

    probe = spark.createDataFrame(
        [(100 + i, "shared benchmark prompt " + " ".join(["tok"] * 12))
         for i in range(3)],
        "doc_id long, text string",
    )
    schema = "doc_id long, text string"
    rows = [
        (1, "shared benchmark prompt " + " ".join(["tok"] * 12)),
        (2, "completely different content with many unique words here"),
        (3, None),
    ]
    src = tmp_path / "bloom_src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))

    def apply(df):
        return D.bloom_decontaminate(df, probe, n=13).select(
            "doc_id", "contaminated"
        )

    sdf = spark.readStream.schema(schema).parquet(str(src))
    got = {r.doc_id: r.contaminated
           for r in _run_memory_stream(spark, apply(sdf), "bloom_t").collect()}
    want = {r.doc_id: r.contaminated
            for r in apply(spark.read.parquet(str(src))).collect()}
    assert got == want
    assert want[1] is True and want[2] is False and want[3] is False
