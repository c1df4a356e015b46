"""Enrich operators — constant merges, field surgery, hashes, lookups.

Everything here is built-in Column expressions or a broadcast hash join; no
Python executes per row. Reference processors cited per function.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType


# -- constant enrichers ---------------------------------------------------------


def add_fields(df: DataFrame, fields: dict, target: str | None = "fields") -> DataFrame:
    """Deep-merge a constant map under `target` (default 'fields'); target=None
    writes top-level columns. ≅ actions/addfields/add_fields.go:40-103."""
    if target is None:
        out = df
        for k, v in fields.items():
            out = out.withColumn(k, F.lit(v))
        return out
    struct = F.struct(*[F.lit(v).alias(k) for k, v in sorted(fields.items())])
    if target in df.columns:
        # overwrite-merge semantics of DeepUpdate (event.go:125-133): new keys
        # win; existing struct fields not in `fields` are kept
        existing = df.schema[target].dataType.fieldNames()
        merged = F.struct(
            *[
                (F.lit(fields[k]) if k in fields else F.col(f"{target}.{k}")).alias(k)
                for k in sorted(set(existing) | set(fields))
            ]
        )
        return df.withColumn(target, merged)
    return df.withColumn(target, struct)


def add_labels(df: DataFrame, labels: dict) -> DataFrame:
    """Flattened constant labels (actions/add_labels.go:36-44)."""
    flat = {}

    def flatten(prefix, obj):
        for k, v in obj.items():
            key = f"{prefix}.{k}" if prefix else k
            if isinstance(v, dict):
                flatten(key, v)
            elif isinstance(v, list):
                flat[key] = ",".join(str(x) for x in v)
            else:
                flat[key] = v

    flatten("", labels)
    return add_fields(df, {k.replace(".", "_"): v for k, v in flat.items()}, "labels")


def add_tags(df: DataFrame, tags: list[str], target: str = "tags") -> DataFrame:
    """Append tags, deduplicated (actions/add_tags.go:38-47)."""
    base = (
        F.coalesce(F.col(target), F.array().cast("array<string>"))
        if target in df.columns
        else F.array().cast("array<string>")
    )
    return df.withColumn(target, F.array_union(base, F.array(*[F.lit(t) for t in tags])))


def append_fields(
    df: DataFrame,
    target: str,
    values: list | None = None,
    fields: list[str] | None = None,
    allow_duplicate: bool = True,
    ignore_empty: bool = False,
) -> DataFrame:
    """Append constants and/or other fields' values to a target array
    (actions/append.go:37-43)."""
    base = (
        F.coalesce(F.col(target), F.array().cast("array<string>"))
        if target in df.columns
        else F.array().cast("array<string>")
    )
    extras: list[Column] = [F.lit(v) for v in (values or [])]
    extras += [F.col(f).cast("string") for f in (fields or [])]
    appended = F.concat(base, F.array(*extras))
    if ignore_empty:
        appended = F.filter(appended, lambda x: x.isNotNull() & (x != F.lit("")))
    if not allow_duplicate:
        appended = F.array_distinct(appended)
    return df.withColumn(target, appended)


# -- field surgery --------------------------------------------------------------


def rename_fields(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Move fields from→to (actions/rename.go:39-46)."""
    out = df
    for src, dst in pairs:
        out = out.withColumnRenamed(src, dst)
    return out


def copy_fields(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Copy value from→to (actions/copy_fields.go:71-113)."""
    out = df
    for src, dst in pairs:
        out = out.withColumn(dst, F.col(src))
    return out


def replace_fields(df: DataFrame, specs: list[dict]) -> DataFrame:
    """Regex find/replace on string fields (actions/replace.go:40-48).
    specs: [{"field": str, "pattern": str, "replacement": str}]"""
    out = df
    for s in specs:
        out = out.withColumn(
            s["field"], F.regexp_replace(F.col(s["field"]), s["pattern"], s["replacement"])
        )
    return out


def truncate_fields(
    df: DataFrame, fields: list[str], max_characters: int
) -> DataFrame:
    """Cap string fields at max_characters and flag truncated rows
    (actions/truncate_fields.go:37-41)."""
    from beats_spark.operators.parse import add_flag

    was_truncated = F.lit(False)
    for f in fields:
        was_truncated = was_truncated | (F.length(F.col(f)) > max_characters)
    out = add_flag(df, was_truncated, "truncated")  # flag BEFORE shortening
    for f in fields:
        out = out.withColumn(f, F.substring(F.col(f), 1, max_characters))
    return out


def lowercase_fields(df: DataFrame, fields: list[str]) -> DataFrame:
    """Case-fold VALUES (key folding is compile-time with a fixed schema;
    actions/lowercase.go:30-48)."""
    out = df
    for f in fields:
        out = out.withColumn(f, F.lower(F.col(f)))
    return out


def uppercase_fields(df: DataFrame, fields: list[str]) -> DataFrame:
    out = df
    for f in fields:
        out = out.withColumn(f, F.upper(F.col(f)))
    return out


# -- hashes / ids ----------------------------------------------------------------


def fingerprint(
    df: DataFrame,
    fields: list[str],
    target: str = "fingerprint",
    method: str = "sha256",
) -> DataFrame:
    """Hash selected field values into `target`
    (fingerprint/config.go:24-28, hash.go:38-43).

    Fields are concatenated in the given order with a delimiter (the
    reference writes key=value pairs; we hash values of a declared field
    list — equivalent determinism, simpler expression).
    """
    cat = F.concat_ws("|", *[F.col(f).cast("string") for f in sorted(fields)])
    if method in ("sha256", "sha384", "sha512"):
        h = F.sha2(cat, int(method[3:]))
    elif method == "md5":
        h = F.md5(cat)
    elif method == "xxhash":
        h = F.conv(F.xxhash64(cat).cast("string"), 10, 16)
    else:
        raise ValueError(f"unsupported fingerprint method {method!r}")
    return df.withColumn(target, h)


def add_id(df: DataFrame, target: str = "_id", key_fields: list[str] | None = None) -> DataFrame:
    """ES-compatible unique id (add_id/config.go:26-27). For reproducible
    pipelines we derive it from the natural key instead of a random UUID."""
    keys = key_fields or ["conv_id", "turn_idx"]
    return df.withColumn(
        target, F.sha2(F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys]), 256)
    )


def timeseries_instance(df: DataFrame, dimensions: list[str], target: str = "timeseries_instance") -> DataFrame:
    """Hash of dimension fields (timeseries/timeseries.go:39-41)."""
    return df.withColumn(
        target, F.xxhash64(*[F.col(d).cast("string") for d in dimensions])
    )


# -- lookup enrich (translate / cache-get) ----------------------------------------


def translate(
    df: DataFrame,
    key: str,
    schema: str,
    rows: list[tuple],
    defaults: dict | None = None,
) -> DataFrame:
    """Lookup enrich against a small static table, compiled on the driver
    to one literal map lookup — the shape of translate_sid
    (translate_sid/config.go:23-28) and cache get (cache/config.go:62-108),
    which look each event up in an in-memory map.

    `schema` is a DDL string whose first field is the table key; `rows`
    are tuples in that order. The other fields are appended to `df` in
    schema order, typed as declared. A missing or NULL `df[key]` gets NULL
    values, then `defaults` (left-join semantics). The map runs inside the
    fact-side projection: no scan, shuffle or join is planned for it.
    Large dimension tables go through a broadcast join instead
    (`dns_enrich`, `misc.cache_get`).

    A map literal holds each key once and no NULL key, so a duplicate or
    NULL key in `rows` raises ValueError rather than picking a row.
    """
    key_field, *fields = DataType.fromDDL(schema).fields
    counts = Counter(row[0] for row in rows)
    if None in counts:
        raise ValueError(f"translate on {key!r}: NULL key in the lookup table")
    dups = sorted(k for k, n in counts.items() if n > 1)
    if dups:
        raise ValueError(f"translate on {key!r}: duplicate lookup keys {dups}")

    entries = []
    for k, *values in rows:
        entries.append(F.lit(k).cast(key_field.dataType))
        entries.append(F.struct(*[
            F.lit(v).cast(f.dataType).alias(f.name) for f, v in zip(fields, values)
        ]))
    hit = F.create_map(*entries)[F.col(key).cast(key_field.dataType)]
    defaults = defaults or {}
    return df.withColumns({
        f.name: F.coalesce(hit[f.name], F.lit(defaults[f.name]))
        if f.name in defaults else hit[f.name]
        for f in fields
    })


_DNS_QUERY_TYPES = {"a": "A", "aaaa": "AAAA", "ptr": "PTR", "reverse": "PTR", "txt": "TXT"}


def dns_enrich(
    df: DataFrame,
    resolution: DataFrame,
    fields: dict[str, str],
    qtype: str = "reverse",
    action: str = "append",
    tag_on_failure: list[str] | None = None,
) -> DataFrame:
    """DNS processor over a resolver SNAPSHOT table — the Spark-first reading
    of libbeat/processors/dns (dns/config.go:31-41, dns/dns.go:80-160).

    The reference resolves live against nameservers and memoizes hits in a
    success/failure cache (dns/cache.go); per-row network IO inside an
    executor is the one thing a 1000-executor job must never do, so here the
    cache IS the input: `resolution` is a small (query, answers) table — the
    materialized resolver state — broadcast and hash-joined map-side. The
    fact side never shuffles.

    Semantics mirrored from dns.go:
    - `fields` maps source -> target (config.go:40); each source is looked
      up independently (dns.go:91).
    - `qtype` one of A/AAAA/PTR/reverse/TXT (config.go:98-111). PTR/reverse
      produces a scalar (answers[0], dns.go:109-111); the rest the full
      answer array (dns.go:112).
    - `action` append|replace (config.go:68-77). On replace the resolved
      value overwrites the target; on append it merges with the existing
      value (dns.go:115-160). Spark columns are statically typed, so append
      always yields array<string> (string old values become one element) —
      the typed-relational reading of Go's string-or-slice mutation.
    - Failure (source present but unresolved) leaves the target untouched
      and appends `tag_on_failure` ONCE per event, deduplicated
      (dns.go:83-88 tagOnce + AddTags). A null source is a silent skip, not
      a failure (dns.go:94-101).

    Duplicate snapshot keys are collapsed to one deterministic row (same
    guard as `translate`) so the join can never multiply fact rows.
    """
    qt = _DNS_QUERY_TYPES.get(qtype.lower())
    if qt is None:
        raise ValueError(
            f"invalid dns lookup type '{qtype}' (valid: A, AAAA, PTR, reverse, TXT)"
        )
    if action not in ("append", "replace"):
        raise ValueError(f"invalid dns field action value '{action}'")

    from pyspark.sql import Window as W

    snap = (
        resolution.select(
            F.col("query").cast("string").alias("__dns_q"),
            F.col("answers").cast("array<string>").alias("__dns_a"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(W.partitionBy("__dns_q").orderBy(F.col("__dns_a"))),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    failed_terms: list[str] = []
    out = df
    for source, target in sorted(fields.items()):
        src_alias = f"__dns_q_{target}"
        ans_alias = f"__dns_a_{target}"
        out = out.join(
            F.broadcast(
                snap.select(
                    F.col("__dns_q").alias(src_alias),
                    F.col("__dns_a").alias(ans_alias),
                )
            ),
            out[source] == F.col(src_alias),
            "left",
        )
        resolved = F.col(ans_alias)
        hit = resolved.isNotNull()
        fail_alias = f"__dns_fail_{target}"
        out = out.withColumn(fail_alias, F.col(source).isNotNull() & ~hit)
        failed_terms.append(fail_alias)
        new_val = (
            F.element_at(resolved, 1)
            if qt == "PTR"
            else resolved
        )
        empty = F.array().cast("array<string>")
        if target in out.columns:
            old = F.col(target)
            if dict(out.dtypes).get(target, "").startswith("array"):
                old_arr = old
            else:
                # a scalar old value becomes a one-element array; null stays
                # null (the reference leaves an absent target absent)
                old_arr = F.when(
                    old.isNotNull(), F.array(old.cast("string"))
                ).otherwise(F.lit(None).cast("array<string>"))
        else:
            old = F.lit(None).cast("string")
            old_arr = F.lit(None).cast("array<string>")
        if action == "replace":
            if qt == "PTR":
                # result column is string; an array-typed old value projects
                # to its first element on miss (typed reading of PutValue)
                miss = (
                    F.element_at(old, 1)
                    if target in df.columns
                    and dict(df.dtypes).get(target, "").startswith("array")
                    else old
                )
            else:
                miss = old_arr
            merged = F.when(hit, new_val).otherwise(miss)
        else:
            new_arr = new_val if qt != "PTR" else F.array(new_val)
            merged = F.when(
                hit, F.concat(F.coalesce(old_arr, empty), new_arr)
            ).otherwise(old_arr)
        out = out.withColumn(target, merged).drop(src_alias, ans_alias)

    if tag_on_failure:
        any_failed = F.col(failed_terms[0])
        for t in failed_terms[1:]:
            any_failed = any_failed | F.col(t)
        base = (
            F.coalesce(F.col("tags"), F.array().cast("array<string>"))
            if "tags" in out.columns
            else F.array().cast("array<string>")
        )
        out = out.withColumn(
            "tags",
            F.when(
                any_failed,
                F.array_union(base, F.array(*[F.lit(t) for t in tag_on_failure])),
            ).otherwise(base),
        )
    return out.drop(*failed_terms)


def cache_put(df: DataFrame, key_field: str, value_field: str, ts_field: str = "ts") -> DataFrame:
    """Build the lookup table side of the cache processor: latest value per
    key (cache/config.go:26-36). TTL filtering is a plain predicate on
    entry_ts at `cache_get` time."""
    from pyspark.sql import Window as W

    w = W.partitionBy("cache_key").orderBy(F.col("entry_ts").desc())
    return (
        df.select(
            F.col(key_field).alias("cache_key"),
            F.col(value_field).alias("cache_value"),
            F.col(ts_field).alias("entry_ts"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# -- environment-ish enrichers ------------------------------------------------------


def add_constant_metadata(df: DataFrame, target: str, metadata: dict) -> DataFrame:
    """add_host_metadata / add_observer_metadata / add_cloud_metadata shape:
    a constant struct computed once on the driver
    (add_host_metadata/add_host_metadata.go:50)."""
    return df.withColumn(
        target, F.struct(*[F.lit(v).alias(k) for k, v in sorted(metadata.items())])
    )


def add_locale(df: DataFrame, tz: str = "UTC") -> DataFrame:
    """add_locale/add_locale.go:62."""
    return df.withColumn("event_timezone", F.lit(tz))


def add_network_direction(
    df: DataFrame,
    source_field: str,
    dest_field: str,
    internal_networks: list[str],
    target: str = "network_direction",
) -> DataFrame:
    """Classify src/dst vs internal networks
    (actions/add_network_direction.go:49-52)."""
    from beats_spark.conditions import compile_condition

    src_internal = compile_condition({"network": {source_field: internal_networks}}, df)
    dst_internal = compile_condition({"network": {dest_field: internal_networks}}, df)
    return df.withColumn(
        target,
        F.when(src_internal & dst_internal, "internal")
        .when(src_internal, "outbound")
        .when(dst_internal, "inbound")
        .otherwise("external"),
    )


def add_data_stream(
    df: DataFrame,
    ds_type: str = "logs",
    dataset: str = "generic",
    namespace: str = "default",
) -> DataFrame:
    """Compute data_stream.{type,dataset,namespace} + the raw_index routing
    column (add_data_stream/add_data_stream.go:40-90)."""
    return df.withColumn(
        "data_stream",
        F.struct(
            F.lit(ds_type).alias("type"),
            F.lit(dataset).alias("dataset"),
            F.lit(namespace).alias("namespace"),
        ),
    ).withColumn(
        "_meta_raw_index",
        F.concat_ws("-", F.lit(ds_type), F.lit(dataset), F.lit(namespace)),
    )


def add_formatted_index(
    df: DataFrame, fmt: str, ts_field: str = "ts", target: str = "_meta_raw_index"
) -> DataFrame:
    """Compute the @metadata.raw_index routing column from a time format
    (add_formatted_index/config.go:28). fmt uses strftime-ish %Y.%m.%d."""
    java = fmt.replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
    return df.withColumn(target, F.date_format(F.col(ts_field), java))
