"""Skew handling: salted repartition + two-phase aggregation.

The north rule requires hot-conversation skew defused by salting conv_id.
Beats' analogue is the kafka hash partitioner (reference:
/root/reference/libbeat/outputs/kafka/partition.go:220-238 — FNV-32a of key
fields), which has the same hot-key problem; Beats can't fix it (one key =
one partition), Spark can: spread each hot key over S salt buckets, do the
heavy work per (key, salt), then combine the S partials per key.

AQE's skew-join/partition-coalescing handles *join* skew automatically
(enabled in session.py); the helpers here cover aggregation/window skew,
which AQE does not re-balance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def salt(df: DataFrame, key: str, buckets: int) -> DataFrame:
    """Add a deterministic salt column spreading each `key` over `buckets`.

    The bucket is a hash of the row's natural secondary key (`turn_idx`), a
    per-row uniform spread. Using a real column (not rand()) keeps the
    pipeline deterministic/replayable.

    When no secondary key exists, the salt hashes ALL columns — hashing the
    skew key itself would put every row of the hot key in one bucket,
    silently defeating the salt.
    """
    if "turn_idx" in df.columns:
        srcs = [F.col("turn_idx")]
    else:
        import warnings

        warnings.warn(
            f"salt(): no secondary key column; hashing all columns "
            f"(key={key!r})",
            stacklevel=2,
        )
        srcs = [F.col(c) for c in df.columns]
    return df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*srcs), F.lit(buckets)).cast("int")
    )


def repartition_salted(df: DataFrame, key: str, buckets: int,
                       num_partitions: int | None = None) -> DataFrame:
    """repartition on (key, salt): hot conversations split across `buckets`
    tasks instead of melting one executor."""
    salted = salt(df, key, buckets)
    cols = [F.col(key), F.col(SALT_COL)]
    return (
        salted.repartition(num_partitions, *cols)
        if num_partitions
        else salted.repartition(*cols)
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Column]],
    buckets: int = 16,
) -> DataFrame:
    """Skew-proof two-phase aggregation.

    aggs: {out_name: (combine_fn_name, partial_expr)} where combine_fn is
    one of sum|min|max|count — the re-aggregatable subset. Phase 1 aggregates
    per (keys, salt) — hot keys use `buckets` parallel tasks; phase 2
    combines the tiny per-salt partials per key.

    Example:
        salted_agg(df, ["conv_id"],
                   {"n_turns": ("sum", F.count("*")),
                    "last_ts": ("max", F.max("ts"))})

    Note Spark's hash aggregate already does partial (map-side) aggregation;
    explicit salting matters for the *shuffle* key distribution when single
    keys are so hot that even their post-combine partials skew a reducer —
    i.e. high-cardinality payloads per key (collect_list-ish work) or
    extreme row counts per key.
    """
    partial = salt(df, keys[0], buckets).groupBy(*keys, SALT_COL).agg(
        *[expr.alias(f"_p_{name}") for name, (_, expr) in aggs.items()]
    )
    combine = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.sum}
    final = partial.groupBy(*keys).agg(
        *[
            combine[fn](F.col(f"_p_{name}")).alias(name)
            for name, (fn, _) in aggs.items()
        ]
    )
    return final


def truncate_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut the logical plan of an iterative / multiply-consumed frame.

    With a session checkpoint directory (``setCheckpointDir``; HDFS or an
    object store on a cluster), ``checkpoint()`` to it: blocks survive
    executor loss. Without one, ``localCheckpoint()``: blocks are pinned to
    executors UNREPLICATED and lineage is discarded, so on a real
    multi-executor cluster losing one executor mid-iteration makes the job
    unrecoverable. That trade is correct single-JVM (local[*]), where
    executor loss is job loss anyway, and it is the fastest truncation.
    ``eager=False`` defers the materializing job to the first action —
    merely *constructing* a frame never triggers computation.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def widen_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a too-coarse source up to the core budget.

    A CPU-heavy map stage (vectorized grok/dissect banks, shingle+minhash
    folds) inherits the SCAN's partitioning: a single-row-group parquet
    file, a gzip'd log, or a handful of small files gives Spark fewer
    splits than cores and the whole parse runs on one task no matter how
    large the cluster is. One cheap exchange of the raw rows buys full
    parallelism for everything downstream until the first shuffle.

    No-op when the source already has >= defaultParallelism partitions
    (= total cores on local[N]) — at real scale (thousands of input splits)
    this never fires; it exists for exactly the coarse-input regimes above.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --- Kafka hash-partitioner parity (broker-free) --------------------------
#
# The reference's kafka output assigns partitions with FNV-32a over the key
# bytes, then `int32(hash) & 0x7FFFFFFF % numPartitions`
# (libbeat/outputs/kafka/partition.go:220-277: makeHashPartitioner /
# makeFieldsHashPartitioner / hash2Partition; field values hash per
# hashFieldValue:280-318 — strings as UTF-8 bytes, integers as
# binary.Write little-endian at their native width). Implemented here as a
# pure Column expression (hex-decode the bytes, F.aggregate the FNV fold) —
# no UDF, stays in codegen, provable against the Go algorithm without a
# broker. `random` / `round_robin` partitioners are Spark-native
# (repartition / repartition(n) round-robin) and not re-derived.

FNV32_OFFSET = 2166136261
FNV32_PRIME = 16777619
_U32 = 4294967296  # 2**32
_INT_WIDTH = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8}


def _utf8_byte_array(col: Column) -> Column:
    """String column -> array<long> of its UTF-8 bytes (empty for '')."""
    h = F.hex(F.encode(col, "UTF-8"))
    n = (F.length(h) / F.lit(2)).cast("int")
    # sequence(1, 0) would generate a DESCENDING [1, 0]; guard empty keys.
    # The second WHEN (not `otherwise`) keeps NULL keys NULL — an otherwise
    # branch would silently hash null as the empty key
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).when(
        n == 0, F.array().cast("array<int>")
    )
    return F.transform(
        seq, lambda i: F.conv(F.substring(h, i * 2 - 1, F.lit(2)), 16, 10)
        .cast("long")
    )


def _le_byte_array(col: Column, width: int) -> Column:
    """Integral column -> array<long> of its `width` little-endian bytes
    (two's complement, matching Go binary.Write of intN/uintN)."""
    return F.array(*[
        F.shiftrightunsigned(col.cast("long"), 8 * i)
        .bitwiseAND(F.lit(255)).cast("long")
        for i in range(width)
    ])


def kafka_key_bytes(df: DataFrame, fields: list[str]) -> Column:
    """Concatenated key bytes for `fields` in order, per hashFieldValue:
    strings as UTF-8, integral types little-endian at native width. Floats
    are rejected: the reference hashes strconv.FormatFloat(v, 'g', -1)
    (shortest round-trip), which no Spark cast reproduces — cast such keys
    to string upstream with an explicit format instead."""
    parts = []
    dtypes = dict(df.dtypes)
    for f in fields:
        dt = dtypes[f]
        if dt == "string":
            parts.append(_utf8_byte_array(F.col(f)))
        elif dt in _INT_WIDTH:
            parts.append(_le_byte_array(F.col(f), _INT_WIDTH[dt]))
        else:
            raise ValueError(
                f"kafka_key_bytes: unsupported key dtype {dt!r} for {f!r} "
                f"(reference hashFieldValue supports string/int; floats use "
                f"Go 'g' formatting — cast to string upstream)"
            )
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def fnv32a(bytes_col: Column) -> Column:
    """FNV-1a 32-bit over an array<long> of byte values (Go hash/fnv):
    h = 2166136261; per byte: h ^= b; h *= 16777619 (mod 2^32).
    acc stays < 2^32 and bytes < 2^8, so the XOR touches only low bits and
    the product peaks near 2^56 — safely inside long before the pmod."""
    return F.aggregate(
        bytes_col,
        F.lit(FNV32_OFFSET).cast("long"),
        lambda acc, b: F.pmod(acc.bitwiseXOR(b) * F.lit(FNV32_PRIME),
                              F.lit(_U32)),
    )


def kafka_partition(df: DataFrame, fields: list[str],
                    num_partitions: int) -> Column:
    """Partition assignment with byte-parity to the reference
    (hash2Partition, partition.go:275-278): int32 reinterpretation then
    `& 0x7FFFFFFF` keeps the low 31 bits — for a uint32 that is exactly
    `hash mod 2^31` — then mod numPartitions.

    NULL in any key field yields NULL (the reference assigns those rows a
    random partition — partition.go:223-225,264 — which is non-deterministic
    by construction; a replayable Spark pipeline must not bake rand() into
    the plan, so callers coalesce nulls to their own policy)."""
    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    h = fnv32a(kafka_key_bytes(df, fields))
    return F.pmod(F.pmod(h, F.lit(2147483648)), F.lit(num_partitions)) \
        .cast("int")
