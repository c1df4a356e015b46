"""Token-budget sequence packing: assemble documents into fixed-capacity
training sequences (context windows).

The packing itself is inherently sequential — bin state depends on every
earlier doc — so it cannot be a pure Column expression. The distributed
shape: documents are hash-bucketed (deterministically, by an md5 prefix of
the id so the oracle can reproduce it), each bucket is packed INDEPENDENTLY
by a next-fit pass inside `applyInPandas` (Arrow batches, one numpy pass
per bucket — per-document work, never per-token), and sequence ids are
globally unique as (bucket, bin). More bucket characters → more parallel
groups (1 hex char = 16 buckets, 2 = 256, 3 = 4096); waste from per-bucket
packing is at most one partially-filled final bin per bucket, negligible
when buckets hold thousands of documents.

Next-fit (not first-fit-decreasing) is the standard streaming choice for
training-data packing: deterministic given the (bucket, doc_id) order,
O(n), and exactly reproducible in SQL — the DuckDB oracle replays it with
a recursive CTE (see `packing_oracle_sql`).

No analogue in mjwolf/beats (training-data mandate).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)


def pack_sequences(
    df: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    bucket_chars: int = 2,
    long_doc: str = "truncate",
) -> DataFrame:
    """Assign every document a training sequence id `(bucket, bin)` by
    next-fit packing within deterministic hash buckets.

    `long_doc` controls docs exceeding `capacity`: "truncate" packs them
    as exactly `capacity` tokens (each fills a bin alone), "drop" removes
    them. (To SPLIT long docs instead, explode them into ≤capacity chunks
    upstream and pack the chunks — composition keeps this operator
    single-purpose.) Output adds `bucket`, `bin`, `seq_id` and
    `packed_tokens` (tokens this doc contributes to its bin)."""
    if long_doc not in ("truncate", "drop"):
        raise ValueError(f"unknown long_doc mode: {long_doc!r}")
    if long_doc == "drop":
        df = df.where(F.col("n_tokens") <= capacity)

    bucket = F.substring(
        F.md5(F.col(id_col).cast("string")), 1, bucket_chars
    )
    base = df.withColumn("bucket", bucket).withColumn(
        "packed_tokens", F.least(F.col("n_tokens"), F.lit(capacity))
    )

    # id passes through the pandas kernel untouched — mirror its REAL type
    # (string / int32 / long ids all pack; hardcoding LongType miscast them)
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("bucket", StringType()),
            StructField("packed_tokens", LongType()),
            StructField("bin", IntegerType()),
        ]
    )

    def _pack(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            bins = []
            b, fill = 0, 0
            # one pass per DOCUMENT (not token); python-level loop is fine
            # at this granularity — a bucket of 1M docs is microseconds/doc
            for t in pdf["packed_tokens"].to_numpy():
                if fill + t > capacity and fill > 0:
                    b, fill = b + 1, 0
                fill += int(t)
                bins.append(b)
            pdf["bin"] = pd.array(bins, dtype="int32")
            yield pdf[[id_col, "bucket", "packed_tokens", "bin"]]

    packed = (
        base.select(id_col, "bucket", F.col("packed_tokens").cast("long"))
        .groupBy("bucket")
        .applyInPandas(_pack, out_schema)
    )
    joined = base.drop("bucket", "packed_tokens").join(packed, id_col)
    return joined.withColumn(
        "seq_id", F.concat_ws("-", F.col("bucket"), F.col("bin"))
    )


def packing_oracle_sql(
    source_sql: str,
    capacity: int,
    id_col: str = "doc_id",
    bucket_chars: int = 2,
) -> str:
    """Recursive-CTE replay of the identical next-fit packing (truncate
    mode) over `source_sql` (must yield id_col + n_tokens). An
    independent implementation of the same deterministic spec — sequential
    replay vs Spark's bucketed parallel pass."""
    return f"""
WITH RECURSIVE docs AS (
  SELECT {id_col},
         substr(md5(CAST({id_col} AS VARCHAR)), 1, {bucket_chars}) AS bucket,
         least(n_tokens, {capacity}) AS packed_tokens,
         row_number() OVER (
           PARTITION BY substr(md5(CAST({id_col} AS VARCHAR)), 1, {bucket_chars})
           ORDER BY {id_col}) AS rn
  FROM ({source_sql})
),
pack AS (
  SELECT {id_col}, bucket, packed_tokens, rn,
         0 AS bin, packed_tokens AS fill
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.{id_col}, d.bucket, d.packed_tokens, d.rn,
         CASE WHEN p.fill + d.packed_tokens > {capacity} AND p.fill > 0
              THEN p.bin + 1 ELSE p.bin END AS bin,
         CASE WHEN p.fill + d.packed_tokens > {capacity} AND p.fill > 0
              THEN d.packed_tokens ELSE p.fill + d.packed_tokens END AS fill
  FROM pack p JOIN docs d ON d.bucket = p.bucket AND d.rn = p.rn + 1
)
SELECT {id_col}, bucket, packed_tokens, bin,
       bucket || '-' || bin AS seq_id
FROM pack
"""


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
) -> DataFrame:
    """Split long documents into ≤max_tokens whitespace-token chunks with
    `overlap` tokens of context repeated between consecutive chunks — the
    upstream step that makes every unit packable by `pack_sequences`
    (whose truncate mode then never truncates).

    Map-only: token array, chunk starts and slices are all built in-array
    per row, then one posexplode — no shuffle, no UDF. Chunk count is
    ceil((n_tokens - overlap) / (max_tokens - overlap)); a doc that fits
    yields exactly itself (chunk 0, whitespace-normalized). Empty /
    whitespace-only text mirrors textops.token_count's guard: one empty
    chunk with n_doc_tokens = n_chunk_tokens = 0 (split('') would
    otherwise report a phantom token)."""
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    step = max_tokens - overlap
    blank = F.trim(F.col("text")) == ""
    toks = F.when(blank, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(F.col("text")), r"\s+")
    )
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(step)), F.lit(1)
    ).cast("int")
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: i * step + 1
    )
    chunks = F.transform(
        starts,
        lambda s: F.array_join(F.slice(toks, s, max_tokens), " "),
    )
    base = df.withColumn("_chunks", chunks).withColumn(
        "n_doc_tokens", n
    )
    out = base.select(
        "doc_id", "n_doc_tokens",
        F.posexplode("_chunks").alias("chunk_idx", "chunk_text"),
    )
    return out.withColumn(
        "n_chunk_tokens",
        F.when(F.col("chunk_text") == "", 0).otherwise(
            F.size(F.split(F.col("chunk_text"), r"\s+"))
        ),
    )


def chunk_documents_sql(
    max_tokens: int,
    overlap: int,
    where: str = "TRUE",
) -> str:
    """DuckDB twin of chunk_documents (1-based list slicing; same ceil
    formula, same empty-text guard)."""
    step = max_tokens - overlap
    return f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents WHERE text IS NOT NULL AND ({where})
),
sized AS (
  SELECT doc_id, toks, len(toks) AS n,
         greatest(CAST(ceil((len(toks) - {overlap}) / {step}.0) AS INT), 1)
           AS n_chunks
  FROM base
)
SELECT doc_id, n AS n_doc_tokens,
       i AS chunk_idx,
       array_to_string(toks[i * {step} + 1 : i * {step} + {max_tokens}], ' ')
         AS chunk_text,
       len(toks[i * {step} + 1 : i * {step} + {max_tokens}])
         AS n_chunk_tokens
FROM sized, unnest(range(0, n_chunks)) AS t(i)
"""
