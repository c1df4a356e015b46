"""Structured Streaming flavor of the parse → enrich → route → aggregate DAG.

Beats is a continuous shipper: inputs tail files and every event flows
through the processor program to outputs as it arrives (reference data path:
/root/reference/libbeat/publisher/pipeline/client.go:76-130). The batch
pipeline in beats_spark.pipeline is the replay/backfill shape; this module
is the always-on shape:

    readStream (file/Iceberg source; offset tracking ≅ filestream cursor,
    /root/reference/filebeat/input/filestream/input.go:403-415)
      → the SAME parse/enrich/route stage functions (they are plain
        DataFrame transforms — one implementation serves batch + streaming)
      → writeStream partitionBy(_sink) with checkpointLocation
        (≅ registrar offset persistence + at-least-once ack,
        /root/reference/filebeat/registrar/registrar.go:33-64)

Windowed aggregation mirrors packetbeat flows
(/root/reference/packetbeat/flows/worker.go:130-290): tumbling report
`period` → watermark + window(); idle `timeout` eviction → session_window().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beats_spark.pipeline import enrich_stage, parse_stage, route_stage
from beats_spark.routing import drop_metadata

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of transcript parquet (≅ filestream input tailing
    a directory; swap for format('iceberg')/format('kafka') in production —
    the downstream stages are source-agnostic)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)  # micro-batch sizing ≅ queue flush
        .parquet(source_dir)
    )


def stream_pipeline(tdf: DataFrame) -> DataFrame:
    """parse → enrich → route on a streaming DataFrame — identical stage
    functions as the batch DAG (beats_spark/pipeline.py)."""
    return route_stage(enrich_stage(parse_stage(tdf)))


def write_sinks(
    routed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Per-sink fan-out writer with exactly-once file-sink semantics: the
    checkpointLocation tracks committed micro-batches (≅ registrar), and the
    file sink's transaction log makes replays idempotent — this is the
    resumable path of the north rule in streaming form. As in the batch
    writer (`routing.fan_out`), `_meta_*` columns are dropped before write:
    @metadata is never indexed."""
    w = (
        drop_metadata(routed)
        .writeStream.format("parquet")
        .partitionBy("_sink")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# Event-time lateness the flow aggregations tolerate.
_FLOW_WATERMARK = "1 minute"


def flows_stream(tdf: DataFrame, window: str = "10 seconds") -> DataFrame:
    """Tumbling-window per-role flow counters with late-data watermark —
    packetbeat flows' periodic report (worker.go:176-223: ticker-aligned
    report every `period`)."""
    return (
        tdf.withWatermark("ts", _FLOW_WATERMARK)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("conv_id").alias("n_convs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role", "n_events", "n_convs",
        )
    )


def session_flows_stream(tdf: DataFrame, gap: str = "30 seconds") -> DataFrame:
    """Idle-timeout flow eviction — flows' `timeout` semantics
    (worker.go:233-290: a flow is final-reported after 30s idle) as a
    session window keyed on conversation."""
    return (
        tdf.withWatermark("ts", _FLOW_WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "conv_id", "n_turns", "first_turn", "last_turn",
        )
    )


def stream_exact_dedup(tdf: DataFrame) -> DataFrame:
    """Streaming twin of dedup.exact_dedup: drop any event whose normalized
    content hash was already seen within the watermark horizon.

    Uses ``dropDuplicatesWithinWatermark`` so the dedup state store holds
    each key only until the watermark passes it — bounded state at
    unbounded input, the only shape that survives an always-on 10^12-turn
    stream (a plain dropDuplicates on a stream accumulates state forever).
    Exactly-once within the horizon; an identical turn arriving later than
    the 10-minute watermark is treated as new — the documented horizon trade every
    streaming dedup makes.
    """
    from beats_spark.dedup import normalize_text

    hashed = tdf.withColumn(
        "_dedup_key", F.sha2(normalize_text(F.col("text")), 256)
    )
    return (
        hashed.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["_dedup_key"])
        .drop("_dedup_key")
    )
