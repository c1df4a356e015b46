"""Deterministic transcript table derived from the driver's `events` parquet.

BASELINE.json's input_hint mandates an input table of shape
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp). No transcript parquet is shipped, so we derive one
deterministically from the `events` table using *dialect-portable SQL*: the
exact same derivation runs in Spark SQL (engine side) and DuckDB (oracle
side), which lets the driver's correctness harness value-hash-compare every
pipeline query end to end.

The text column is rendered from a fixed bank of log-line templates (logfmt,
apache-access, plain prose) so the dissect/grok parse stage has real structure
— mirroring the reference's golden corpora
(/root/reference/libbeat/processors/dissect/testdata/dissect_tests.json,
/root/reference/filebeat/module/apache/access/ingest/pipeline.yml:10-18).
~5% of rows are deliberately malformed (`!!corrupt ...`) to exercise failure
flags and dead-letter routing.

Determinism notes:
- conv_id groups events by user_id; turn_idx is a dense row_number ordered by
  (ts, event_id) — both engines agree because event_id is a unique tiebreak.
- All numeric text fragments come from integer arithmetic on int64 columns
  (modulo / floor(value*100)), never from float formatting, so printf output
  is byte-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# -- dialect fragments -------------------------------------------------------

_ISO_TS = {
    # second-resolution ISO timestamp rendered from the event ts
    "spark": "date_format(ts, 'yyyy-MM-dd\\'T\\'HH:mm:ss')",
    "duckdb": "strftime(ts, '%Y-%m-%dT%H:%M:%S')",
}


def transcripts_select(dialect: str, events_rel: str = "events") -> str:
    """SELECT producing (conv_id, turn_idx, role, text, tool, ts) from events.

    `dialect` in {"spark", "duckdb"}; the only divergent fragment is ISO
    timestamp rendering. Everything else (printf, CASE, %, row_number) has
    identical semantics in both engines.
    """
    iso = _ISO_TS[dialect]
    return f"""
SELECT
  printf('conv-%06d', user_id) AS conv_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
  CASE CAST(event_id % 4 AS INT)
    WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' WHEN 2 THEN 'system' ELSE 'tool'
  END AS role,
  CASE
    WHEN event_id % 20 = 7 THEN printf('!!corrupt %d %s', event_id, event_type)
    WHEN event_id % 3 = 0 THEN printf(
      'level=%s ts=%s caller=app_%d.go:%d msg="%s event" value=%d took=%dms',
      CASE WHEN event_type = 'error' THEN 'ERROR'
           WHEN event_type = 'signup' THEN 'WARN' ELSE 'INFO' END,
      {iso}, user_id % 7, event_id % 500, event_type,
      CAST(floor(value * 100) AS BIGINT), event_id % 97)
    WHEN event_id % 3 = 1 THEN printf(
      '10.0.%d.%d - user%d [%s] "GET /api/%s/%d HTTP/1.1" %d %d',
      user_id % 250, event_id % 250, user_id, {iso}, event_type, event_id % 100,
      CASE WHEN event_type = 'error' THEN 500
           WHEN event_type = 'click' THEN 301 ELSE 200 END,
      CAST(floor(value * 100) AS BIGINT))
    ELSE printf('user %d did %s with props %s', user_id, event_type, props)
  END AS text,
  CASE
    WHEN event_id % 13 = 5 THEN NULL
    WHEN event_id % 11 = 3 THEN ''
    WHEN event_id % 4 = 3 THEN
      CASE CAST(event_id % 5 AS INT)
        WHEN 0 THEN 'search' WHEN 1 THEN 'bash' WHEN 2 THEN 'python'
        WHEN 3 THEN 'browser' ELSE 'search' END
    ELSE 'none'
  END AS tool,
  ts
FROM {events_rel}
""".strip()


def oracle_cte(extra_ctes: str = "") -> str:
    """`WITH transcripts AS (...)` prefix for DuckDB oracle SQL strings."""
    body = transcripts_select("duckdb")
    tail = f", {extra_ctes}" if extra_ctes else ""
    return f"WITH transcripts AS ({body}){tail}"


def load_transcripts(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """Read events parquet under sf_dir and derive the transcript DataFrame.

    In production this is `spark.read.format("iceberg").load(table)` of the
    real 10^12-turn transcript table; the derivation below is the
    deterministic small-scale stand-in.

    `replicate=K` deterministically scales the input K× for throughput /
    scaling benchmarks: each replica gets disjoint user_id (⇒ conv_id) and
    event_id ranges, so conversation-key cardinality grows with the data —
    the realistic shape for skew/shuffle behavior at larger scale.
    """
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    if replicate == 1:
        # Pre-cluster by the window key with an EXPLICIT partition count.
        # The test parquet is one row group ⇒ one scan split, and the
        # turn_idx window's own exchange is AQE-coalesced to a single
        # partition at this data size (measured: spark_partition_id
        # distinct = 1 at sf0.1) — which serialized every downstream
        # parse-stage pandas UDF onto one core. HashPartitioning(user_id, N)
        # satisfies the window's ClusteredDistribution, so this REPLACES the
        # window exchange rather than adding one, and an explicit N is
        # exempt from AQE coalescing. At production scale the Iceberg scan
        # arrives in thousands of splits and the window exchange is sized
        # by AQE correctly; this branch is the small-input remedy only.
        events = events.repartition(
            spark.sparkContext.defaultParallelism, "user_id"
        )
    if replicate > 1:
        from pyspark.sql import functions as F

        reps = spark.range(replicate).select(F.col("id").alias("_rep"))
        events = (
            # spread the (single-file) source across tasks FIRST so the K×
            # expansion itself is parallel — otherwise one scan task emits
            # all K·N rows and serializes the job
            events.repartition(3 * spark.sparkContext.defaultParallelism)
            .crossJoin(F.broadcast(reps))
            .withColumn("user_id", F.col("user_id") + F.col("_rep") * 10_000_000)
            .withColumn("event_id", F.col("event_id") + F.col("_rep") * 1_000_000_000)
            .drop("_rep")
        )
    return spark.sql(transcripts_select("spark", "{events}"), events=events)
