"""Filter / drop / project operators + rate limiting.

References:
- drop_event: /root/reference/libbeat/processors/actions/drop_event.go:31-46
- drop_fields: .../actions/drop_fields.go:40-122 (regex entries 78-90)
- include_fields: .../actions/include_fields.go:44-91
- include/exclude_lines: /root/reference/filebeat/input/filestream/
  input.go:745-760 (applied before event creation — here: pushed-down scan
  filters)
- ratelimit: .../processors/ratelimit/token_bucket.go:90-100
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import compile_condition


def drop_event(df: DataFrame, when: dict) -> DataFrame:
    """Drop rows matching the condition — Run()==nil ≅ anti-filter."""
    return df.filter(~compile_condition(when, df))


def keep_event(df: DataFrame, when: dict) -> DataFrame:
    return df.filter(compile_condition(when, df))


def drop_fields(df: DataFrame, fields: list[str], ignore_missing: bool = True) -> DataFrame:
    """Delete listed columns; '/regex/' entries match against the column set
    (drop_fields.go:78-90). Dot-paths drop nested struct fields
    (`parsed.level` → Column.dropFields), matching mapstr deep deletes."""
    to_drop: list[str] = []
    nested: dict[str, list[str]] = {}
    for f in fields:
        if f.startswith("/") and f.endswith("/"):
            pat = re.compile(f[1:-1])
            to_drop += [c for c in df.columns if pat.search(c)]
        elif "." in f and f.split(".", 1)[0] in df.columns:
            top, rest = f.split(".", 1)
            nested.setdefault(top, []).append(rest)
        elif f in df.columns or not ignore_missing:
            to_drop.append(f)
    out = df.drop(*to_drop)
    for top, rests in nested.items():
        out = out.withColumn(top, F.col(top).dropFields(*rests))
    return out


def include_fields(df: DataFrame, fields: list[str], mandatory: list[str] | None = None) -> DataFrame:
    """Keep only listed columns plus mandatory ones (include_fields.go:44-91
    always keeps `type`; ours keeps the natural key by default)."""
    keep = list(dict.fromkeys((mandatory or []) + fields))
    return df.select(*[c for c in keep if c in df.columns])


def _any_line(patterns: list[str]) -> Column:
    pred = F.col("text").rlike(patterns[0])
    for p in patterns[1:]:
        pred = pred | F.col("text").rlike(p)
    return F.coalesce(pred, F.lit(False))


def include_lines(df: DataFrame, patterns: list[str]) -> DataFrame:
    """Keep rows whose raw line matches any regex — expressed as a Column
    predicate so Catalyst pushes it toward the scan."""
    return df.filter(_any_line(patterns))


def exclude_lines(df: DataFrame, patterns: list[str]) -> DataFrame:
    return df.filter(~_any_line(patterns))


def ratelimit(
    df: DataFrame,
    limit_per_window: int,
    key_fields: list[str],
    window: str = "1 minute",
) -> DataFrame:
    """Keyed rate limit: keep the first N events per (key, time-window).

    The reference token bucket (token_bucket.go:90-100) is inherently
    sequential per key; the distributed equivalent is a windowed top-N —
    deterministic given the stable (ts, natural-key) order. Divergence: a
    token bucket refills continuously, this refills per window boundary.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(
        F.window(F.col("ts"), window).alias("_w"), *[F.col(k) for k in key_fields]
    ).orderBy(F.col("ts"), *[F.col(k) for k in key_fields])
    return (
        df.withColumn("_rl_rn", F.row_number().over(w))
        .filter(F.col("_rl_rn") <= limit_per_window)
        .drop("_rl_rn")
    )


def _sample_hex(key_fields: list[str]):
    """8-hex md5 prefix of the null-safe concatenated key — the same
    decision machinery as beats_spark.sampling (md5 exists identically in
    Spark, DuckDB and hashlib, so the keep decision is oracle-able; the
    previous xxhash64 bucket was engine-private)."""
    parts = [
        F.coalesce(F.col(k).cast("string"), F.lit("\x00null"))
        for k in key_fields
    ]
    return F.substring(F.md5(F.concat_ws("\x1f", *parts)), 1, 8)


def sample(df: DataFrame, fraction: float, key_fields: list[str]) -> DataFrame:
    """Deterministic hash sampling on a key (no RNG → reproducible under
    repartitioning, retries and reruns; same md5-threshold decision family
    as beats_spark.sampling, resolution 1/2^32)."""
    from beats_spark.sampling import _hex_threshold

    if fraction >= 1.0:
        return df
    return df.filter(_sample_hex(key_fields) < F.lit(_hex_threshold(fraction)))


def sample_sql(fraction: float, key_fields: list[str]) -> str:
    """DuckDB twin of sample()'s keep predicate."""
    from beats_spark.sampling import _hex_threshold

    if fraction >= 1.0:
        return "TRUE"
    parts = ", ".join(
        f"coalesce(CAST({k} AS VARCHAR), chr(0) || 'null')"
        for k in key_fields
    )
    return (
        f"substr(md5(concat_ws(chr(31), {parts})), 1, 8)"
        f" < '{_hex_threshold(fraction)}'"
    )
