"""Remaining processor-parity operators: syslog parse, multiline assembly,
gzip decompression, struct re-nesting, cache get, and the vectorized-script
escape hatch.

References per function (all under /root/reference/):
- syslog processor: libbeat/processors/syslog/syslog.go:49-56,141-188 and
  the generated parsers libbeat/reader/syslog/rfc3164_gen.go, rfc5424_gen.go
- multiline reader: libbeat/reader/multiline/multiline_config.go:52-63
- decompress_gzip_field: libbeat/processors/actions/decompress_gzip_field.go:41-43
- move_fields: libbeat/processors/move_fields/move_fields.go:40-44
- cache (get): libbeat/processors/cache/config.go:62-108
- script (javascript): libbeat/processors/script/javascript/javascript.go:42-62
"""

from __future__ import annotations

import gzip
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.operators.parse import grok

# RFC-3164: "<13>Oct 11 22:14:15 host app[123]: message"
RFC3164_PATTERN = (
    r"^(?:<%{NONNEGINT:log_syslog_priority:int}>)?"
    r"%{SYSLOGTIMESTAMP:ts_raw} %{IPORHOST:host_hostname} "
    r"%{PROG:process_name}(?:\[%{POSINT:process_pid:int}\])?:? %{GREEDYDATA:message}$"
)
# RFC-5424: "<34>1 2003-10-11T22:14:15.003Z host app 123 MSGID - message"
RFC5424_PATTERN = (
    r"^<%{NONNEGINT:log_syslog_priority:int}>%{NONNEGINT:log_syslog_version:int} "
    r"%{TIMESTAMP_ISO8601:ts_raw} %{NOTSPACE:host_hostname} %{NOTSPACE:process_name} "
    r"%{NOTSPACE:process_pid_raw} %{NOTSPACE:log_syslog_msgid} "
    r"(?:-|\[[^\]]*\]) ?%{GREEDYDATA:message}$"
)


def syslog(df: DataFrame, field: str = "message",
           target_prefix: str = "syslog") -> DataFrame:
    """RFC-5424-then-3164 syslog parse (the processor tries formats in
    order, syslog.go:141-188) — one grok bank, first match wins; failures
    flagged like every parse operator."""
    out = grok(df, [RFC5424_PATTERN, RFC3164_PATTERN], field=field,
               target_prefix=target_prefix)
    pri = F.col(f"{target_prefix}.log_syslog_priority")
    return (
        out.withColumn("log_syslog_facility", (pri / 8).cast("int"))
        .withColumn("log_syslog_severity", F.pmod(pri, F.lit(8)).cast("int"))
    )


def multiline_assemble(
    df: DataFrame,
    pattern: str | None = None,
    negate: bool = False,
    match: str = "after",
    file_col: str = "conv_id",
    offset_col: str = "turn_idx",
    line_col: str = "text",
    max_lines: int = 500,
    mode: str = "pattern",
    count_lines: int | None = None,
    timeout: float | None = None,
    ts_col: str | None = None,
    flush_pattern: str | None = None,
    skip_newline: bool = False,
) -> DataFrame:
    """Reassemble logical events from physical lines — the multiline reader
    (multiline_config.go:52-64) as a windowed grouping. All three reference
    modes:

    - mode="pattern" (default): a line matching (pattern XOR negate)
      CONTINUES the previous event; a non-matching line STARTS a new event
      (match="before" shifts the start flag by one — the matching line is
      PREpended to the following event). `flush_pattern`: a line matching
      it ends the event WITH that line (the next line starts fresh).
    - mode="count": every `count_lines` physical lines form one event
      (multiline_config.go:75-79 requires count_lines > 0).
    - mode="while_pattern": maximal runs of lines matching (pattern XOR
      negate) form one event; every non-matching line is emitted as its
      own single-line event.

    `timeout` + `ts_col`: the reference's idle-flush (multiline.timeout) —
    in batch, a gap > timeout seconds between consecutive lines breaks the
    event (streaming twins get real idle flush from session windows).
    Lines join with a newline; `skip_newline` joins them with nothing
    (multiline_config.go:64).

    Event id = running count of starts within (file, offset-order) — a
    window cumsum, no Python. Returns one row per assembled event with the
    joined text and line span.
    """
    w0 = W.partitionBy(file_col).orderBy(offset_col)
    if mode == "count":
        if not count_lines or count_lines <= 0:
            raise ValueError(
                "multiline.count_lines must be positive in count mode "
                "(multiline_config.go:75-79)"
            )
        evt = F.floor((F.row_number().over(w0) - 1) / F.lit(count_lines))
        lines = df.withColumn("_evt", evt)
    else:
        if pattern is None:
            raise ValueError(
                "multiline.pattern cannot be empty when pattern based "
                "matching is selected (multiline_config.go:47)"
            )
        matched = F.col(line_col).rlike(pattern)
        if negate:
            matched = ~matched
        if mode == "while_pattern":
            # a matching line continues a run of matching lines; any
            # non-matching line is its own event, and the line after it
            # always starts fresh
            starts = (~matched) | ~F.coalesce(
                F.lag(matched, 1).over(w0), F.lit(False)
            )
        elif match == "before":
            starts = ~F.coalesce(F.lag(matched, 1).over(w0), F.lit(False))
        else:
            starts = ~matched
        if flush_pattern is not None:
            flushed = F.col(line_col).rlike(flush_pattern)
            starts = starts | F.coalesce(
                F.lag(flushed, 1).over(w0), F.lit(False)
            )
        if timeout is not None and ts_col is not None:
            gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(
                F.lag(F.col(ts_col), 1).over(w0)
            )
            starts = starts | (gap > F.lit(timeout))
        w = w0.rowsBetween(W.unboundedPreceding, 0)
        evt = F.sum(F.when(starts, 1).otherwise(0)).over(w)
        lines = df.withColumn("_evt", evt)
    return (
        lines.groupBy(file_col, "_evt")
        .agg(
            F.concat_ws(
                "" if skip_newline else "\n", F.slice(F.sort_array(F.collect_list(
                    F.struct(F.col(offset_col), F.col(line_col))
                )), 1, max_lines).getField(line_col)
            ).alias("message"),
            F.min(offset_col).alias("first_line"),
            F.max(offset_col).alias("last_line"),
            F.count("*").alias("n_lines"),
        )
        .withColumnRenamed("_evt", "event_seq")
    )


# CRI-O format: "2016-10-06T00:17:09.669794202Z stdout F log content"
CRI_PATTERN = (
    r"^%{TIMESTAMP_ISO8601:ts_raw} %{WORD:stream} %{WORD:cri_flags} "
    r"%{GREEDYDATA:message}$"
)


def container(df: DataFrame, field: str = "message",
              fmt: str = "auto") -> DataFrame:
    """Container log parser (filebeat's `container` input parser: docker
    json-file and CRI-O formats; reference reader chain
    libbeat/reader/parser/parser.go:91-130).

    docker format: {"log": "...", "stream": "stdout", "time": "..."} — one
    from_json; CRI format — grok. `auto` handles both via coalesce (a line
    is exactly one of the two)."""
    out = df
    c = F.col(field)
    docker = F.from_json(c, "log string, stream string, time string")
    if fmt in ("auto", "docker"):
        out = out.withColumn("_docker", docker)
    if fmt in ("auto", "cri"):
        out = grok(out, [CRI_PATTERN], field=field, target_prefix="_cri",
                   flag_failures=False)
    if fmt == "docker":
        return out.withColumn(
            "container",
            F.struct(
                F.col("_docker.log").alias("message"),
                F.col("_docker.stream").alias("stream"),
                F.col("_docker.time").alias("ts_raw"),
            ),
        ).drop("_docker")
    if fmt == "cri":
        return out.withColumn(
            "container",
            F.struct(
                F.col("_cri.message").alias("message"),
                F.col("_cri.stream").alias("stream"),
                F.col("_cri.ts_raw").alias("ts_raw"),
            ),
        ).drop("_cri")
    return out.withColumn(
        "container",
        F.struct(
            F.coalesce(F.col("_docker.log"), F.col("_cri.message")).alias("message"),
            F.coalesce(F.col("_docker.stream"), F.col("_cri.stream")).alias("stream"),
            F.coalesce(F.col("_docker.time"), F.col("_cri.ts_raw")).alias("ts_raw"),
        ),
    ).drop("_docker", "_cri")


def sessionize(df: DataFrame, gap_seconds: int) -> DataFrame:
    """Batch sessionization with idle-timeout semantics — packetbeat flows'
    `timeout` eviction (packetbeat/flows/worker.go:233-290) expressed as a
    gap-boundary cumsum (dialect-portable; the streaming flavor uses
    session_window, beats_spark/streaming/pipeline.py).

    A new session starts when the gap to the previous event in the key
    exceeds gap_seconds. Emits one row per (key, session) with span + count.
    """
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    starts = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    cum = W.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        W.unboundedPreceding, 0
    )
    sess = df.withColumn("_sess", F.sum(starts).over(cum).cast("long"))
    return (
        sess.groupBy("conv_id", "_sess")
        .agg(
            F.count("*").alias("n_events"),
            F.min("turn_idx").alias("first_idx"),
            F.max("turn_idx").alias("last_idx"),
            F.date_format(F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("session_end"),
        )
        .withColumnRenamed("_sess", "session_seq")
    )


def decompress_gzip_field(df: DataFrame, field: str,
                          target: str | None = None) -> DataFrame:
    """Gunzip a binary column via a vectorized pandas UDF (zlib is the
    hot loop; the batch loop stays in Arrow)."""

    @F.pandas_udf(T.StringType())
    def gunzip(s: pd.Series) -> pd.Series:
        def one(b):
            if b is None:
                return None
            try:
                return gzip.decompress(bytes(b)).decode("utf-8", "replace")
            except Exception:
                return None

        return s.map(one)

    return df.withColumn(target or field, gunzip(F.col(field)))


def compress_gzip_field(df: DataFrame, field: str,
                        target: str | None = None) -> DataFrame:
    """Gzip a string column (test/roundtrip twin of decompress_gzip_field —
    the reference ships only the decompressor). mtime is pinned to 0 so the
    output bytes are deterministic across runs and engines."""

    @F.pandas_udf(T.BinaryType())
    def gz(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: None if t is None
            else gzip.compress(t.encode("utf-8"), mtime=0)
        )

    return df.withColumn(target or field, gz(F.col(field)))


def move_fields(df: DataFrame, fields: list[str], from_prefix: str,
                to_prefix: str) -> DataFrame:
    """Re-parent struct fields from one prefix to another
    (move_fields.go:40-44). Empty from_prefix moves top-level columns into
    a struct; empty to_prefix hoists struct fields to top level."""
    if from_prefix and to_prefix:
        src = df.schema[from_prefix].dataType
        moved = [f for f in src.fieldNames() if f in fields]
        stay = [f for f in src.fieldNames() if f not in fields]
        existing = (
            df.schema[to_prefix].dataType.fieldNames()
            if to_prefix in df.columns
            else []
        )
        # copy into the target struct FIRST, then shrink the source struct
        out = df.withColumn(
            to_prefix,
            F.struct(
                *[F.col(f"{to_prefix}.{f}").alias(f) for f in existing],
                *[F.col(f"{from_prefix}.{f}").alias(f) for f in moved],
            ),
        )
        return (
            out.withColumn(
                from_prefix,
                F.struct(*[F.col(f"{from_prefix}.{f}").alias(f) for f in stay]),
            )
            if stay
            else out.drop(from_prefix)
        )
    if not from_prefix and to_prefix:
        return df.withColumn(
            to_prefix, F.struct(*[F.col(f).alias(f) for f in fields])
        ).drop(*fields)
    if from_prefix and not to_prefix:
        hoisted = df.select(
            "*", *[F.col(f"{from_prefix}.{f}").alias(f) for f in fields]
        )
        src = df.schema[from_prefix].dataType
        stay = [f for f in src.fieldNames() if f not in fields]
        return hoisted.withColumn(
            from_prefix,
            F.struct(*[F.col(f"{from_prefix}.{f}").alias(f) for f in stay]),
        ) if stay else hoisted.drop(from_prefix)
    raise ValueError("one of from_prefix/to_prefix must be non-empty")


def cache_get(
    df: DataFrame,
    cache_df: DataFrame,
    key_field: str,
    target_field: str,
    ttl_seconds: float | None = None,
    now_ts: str | None = None,
) -> DataFrame:
    """The cache processor's get op (cache/config.go:62-108): broadcast join
    against a cache table built by enrich.cache_put, with TTL expiry as a
    plain predicate on entry_ts."""
    cache = cache_df
    if ttl_seconds is not None and now_ts is not None:
        cache = cache.filter(
            F.col("entry_ts") >= F.lit(now_ts).cast("timestamp") - F.expr(
                f"INTERVAL {int(ttl_seconds)} SECONDS"
            )
        )
    joined = df.join(
        F.broadcast(cache.select(
            F.col("cache_key").alias(f"__ck"),
            F.col("cache_value").alias(target_field),
        )),
        F.col(key_field) == F.col("__ck"),
        "left",
    )
    return joined.drop("__ck")


def vectorized_script(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: str | T.StructType,
) -> DataFrame:
    """The script-processor escape hatch (javascript.go:42-62 lets users run
    arbitrary per-event JS). Our contract keeps the BASELINE vectorization
    rule: the user function receives/returns whole pandas DataFrames per
    Arrow batch — arbitrary logic, never per-row dispatch from the engine."""

    def run(batches):
        for pdf in batches:
            yield fn(pdf)

    return df.mapInPandas(run, output_schema)
