"""Deduplication operators for large-scale training-data pipelines.

Five flavors, all DataFrame-native:

- exact: hash-groupBy on normalized text (one shuffle on the hash key);
- MinHash + LSH: char-shingles → K minhashes → B bands → band-bucket
  self-join → exact Jaccard verify. Shingling/minhashing run entirely in
  the JVM (one hash per shingle, then K min() aggregates — no Python);
- SimHash: 64-bit signature via Arrow-vectorized numpy (bit-parallel) over
  `textops.tokens` cut on the JVM, near-dup = Hamming distance ≤ t within
  LSH-style chunk buckets;
- n-gram Jaccard: word n-gram sets, MinHash-banded or prefix-filter
  candidates, exact verify;
- embedding cosine: see beats_spark.similarity (near-dup = cos ≥ τ).

Text units come from textops (`normalize_text`, `tokens`, `word_ngrams`),
and the DuckDB oracles spell them through their twins there (`*_sql`; the
shingle twin `shingles_sql` sits beside `shingles_expr`). Every pair join
verifies its bare (id_a, id_b) candidates through the one by-id join
`_verify_by_id`, each with its own measure.

Scale shape: every stage is a map or a shuffle on a dedup key; candidate
generation never does an unblocked cross join. At 100 TB, band hashing
bounds the self-join to per-bucket groups; a salt cap (`max_bucket`) guards
degenerate buckets (all-identical spam shingles).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .scale import truncate_lineage
from .textops import normalize_text, tokens, tokens_sql, word_ngrams, word_ngrams_sql


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the lowest-id representative per normalized-text hash.

    One shuffle keyed on the 256-bit hash; Spark's hash aggregate does
    map-side partials so duplicate-heavy data shrinks before the exchange.
    """
    h = F.sha2(normalize_text(F.col("text")), 256)
    return (
        df.withColumn("_dedup_key", h)
        .groupBy("_dedup_key")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


# -- char shingles + minhash (all JVM expressions) ---------------------------


def shingles_expr(norm_col: str, k: int = 5) -> Column:
    """Distinct char k-shingles over a PRE-NORMALIZED text column, as
    array<string>; NULL text has none, so it never enters banding. SQL expr
    because substr needs a dynamic start position; takes a materialized
    column (not an expression) so Catalyst doesn't re-evaluate
    normalization once per array element."""
    return F.expr(
        f"IF({norm_col} IS NULL, array(),"
        f" array_distinct(transform(sequence(1, greatest(length({norm_col}) - {k - 1}, 1)),"
        f" i -> substr({norm_col}, i, {k}))))"
    )


def shingles_sql(norm: str, k: int = 5) -> str:
    """DuckDB twin of `shingles_expr` (a set: `list_distinct` does not keep
    order; it also drops the one NULL shingle of NULL text)."""
    return (
        f"list_distinct(list_transform(range(1, greatest(length({norm}) - {k - 1}, 1) + 1),"
        f" i -> substr({norm}, CAST(i AS INTEGER), {k})))"
    )


_MERSENNE_31 = 2147483647  # 2^31 - 1


def _affine_params(i: int) -> tuple[int, int]:
    """Deterministic pseudo-random 31-bit (a, b) for hash family member i
    (a odd and non-zero, the classic universal-hashing requirement)."""
    import hashlib

    d = hashlib.sha256(f"minhash-{i}".encode()).digest()
    a = (int.from_bytes(d[:4], "big") % (_MERSENNE_31 - 1)) | 1
    b = int.from_bytes(d[4:8], "big") % _MERSENNE_31
    return a, b


def _minhash_signature(hashed: DataFrame, num_hashes: int) -> DataFrame:
    """(_id, _m0 … _m{K-1}) from exploded (_id, _h) rows, _h < 2^31-1: the
    K family members min((h·a_i + b_i) mod (2^31-1)) as K codegen'd min()
    aggregates in one hash aggregate (map-side partials shrink the shuffle
    to |docs|×K). h, a, b < 2^31 keeps every product below 2^62, so ANSI
    mode can't overflow."""
    m = F.lit(_MERSENNE_31)
    return hashed.groupBy("_id").agg(*[
        F.min(F.pmod(F.col("_h") * F.lit(a) + F.lit(b), m)).alias(f"_m{i}")
        for i, (a, b) in enumerate(map(_affine_params, range(num_hashes)))
    ])


def _band_candidates(
    hashed: DataFrame, num_hashes: int, bands: int, max_bucket: int
) -> DataFrame:
    """Candidate pairs (id_a < id_b) of docs that share a MinHash band:
    signature → band hashes as plain columns → explode(bands) → self-join
    per (band, bhash) bucket → bare id pairs, deduplicated. `hashed` holds
    one (_id, _h) row per shingle hash. A degenerate bucket (spam shingles,
    empty docs) is capped at `max_bucket` members."""
    rows_per_band = num_hashes // bands
    banded = _minhash_signature(hashed, num_hashes).select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(*[F.col(f"_m{b * rows_per_band + r}")
                                 for r in range(rows_per_band)]).alias("bhash"),
                )
                for b in range(bands)
            ])
        ).alias("_b"),
    ).select("_id", "_b.band", "_b.bhash")
    w = Window.partitionBy("band", "bhash").orderBy("_id")
    banded = banded.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_bucket
    )
    left = banded.select("band", "bhash", F.col("_id").alias("id_a"))
    right = banded.select("band", "bhash", F.col("_id").alias("id_b"))
    return (
        left.join(right, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def _verify_by_id(cand: DataFrame, base: DataFrame) -> DataFrame:
    """The exact verify behind every candidate generator here: join bare
    (id_a, id_b) candidates back to base's per-doc (_id, _g) sets BY ID —
    two equi-joins, so the set arrays never ride the band or candidate-dedup
    exchanges — and return (id_a, id_b, inter_size, size_a, size_b); each
    caller applies its own measure."""
    def side(s: str) -> DataFrame:
        return base.select(F.col("_id").alias(f"id_{s}"), F.col("_g").alias(f"g_{s}"))

    return cand.join(side("a"), "id_a").join(side("b"), "id_b").select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("g_a", "g_b")).alias("inter_size"),
        F.size("g_a").alias("size_a"),
        F.size("g_b").alias("size_b"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.6,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    shingle → per-shingle hash → EXPLODE → K codegen'd min() aggregates
    (one hash aggregate computes the whole signature; map-side partials
    shrink the shuffle to |docs|×K) → band hashes as plain columns →
    explode(bands) → self-join per (band, band_hash) bucket → candidates
    as bare id pairs → exact-Jaccard verify joining the shingle-hash
    arrays back BY ID (`_verify_by_id`; arrays never travel through the
    candidate join).

    Why explode+aggregate instead of array transforms: Spark higher-order
    functions are interpreted per element, never whole-stage-codegen'd —
    K×|shingles| interpreted lambda evaluations dominated the profile
    (measured 7s vs <1s for the aggregate shape on 1M shingles × 64).
    """
    # one 64-bit hash per shingle; the string shingles are never carried
    # further — banding AND the exact verify both run on the longs (verify
    # exact up to 64-bit hash collisions: P ≈ |sh|²/2⁶⁴ per pair). The
    # frame is materialized once for the signature agg + verify joins.
    base = (
        df.select(
            F.col(id_col).alias("_id"),
            normalize_text(F.col(text_col)).alias("_norm"),
        )
        .withColumn("_sh", shingles_expr("_norm", shingle_k))
        .select("_id", F.expr("transform(_sh, s -> xxhash64(s))").alias("_g"))
    )
    # lineage cut: `base` feeds the signature agg AND both verify joins —
    # without it the shingle scan re-runs 3×. eager=False defers the
    # materializing job to the first action (constructing the pairs frame
    # must not itself run computation).
    base = truncate_lineage(base, eager=False)
    hashed = base.select(
        "_id",
        F.explode(
            F.expr(f"transform(_g, h -> pmod(h, {_MERSENNE_31}))")
        ).alias("_h"),
    )
    cand = _band_candidates(hashed, num_hashes, bands, max_bucket)
    inter = F.col("inter_size")
    jaccard = inter / (F.col("size_a") + F.col("size_b") - inter)
    return (
        _verify_by_id(cand, base)
        .select("id_a", "id_b", jaccard.cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup(df: DataFrame, **kw) -> DataFrame:
    """Docs to DROP: connected to a lower-id near-duplicate. (Single-link
    union is approximated by 'keep a doc iff it has no lower-id neighbor' —
    one extra join instead of an iterative connected-components pass; for
    true transitivity use `minhash_dedup_cc`.)"""
    pairs = minhash_lsh_pairs(df, **kw)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return df.join(drop, "doc_id", "left_anti")


def minhash_dedup_cc(df: DataFrame, **kw) -> DataFrame:
    """True transitive dedup: keep exactly one doc (the min id) per
    connected component of the near-dup graph. Chains a~b~c where
    jaccard(a,c) < threshold still collapse to one survivor — the
    single-link semantics `minhash_dedup` only approximates.

    Pairs come from the banded LSH join; components from the O(log n)
    alternating-star pass in beats_spark.graph (all shuffles keyed on doc
    id, no driver-side graph state)."""
    from beats_spark.graph import connected_components

    pairs = minhash_lsh_pairs(df, **kw)
    comp = connected_components(pairs)
    drop = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return df.join(drop, "doc_id", "left_anti")


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join via prefix filtering
    (AllPairs/PPJoin family, Bayardo et al. WWW'07) — provably no missed
    pairs, unlike the minhash-banded candidate generation.

    Key fact: sort each doc's token set by ascending global frequency and
    keep only the first |g| - ceil(t·|g|) + 1 tokens (the "prefix"); any
    two sets with jaccard ≥ t MUST share a prefix token. Candidate
    generation is then a plain equi-join on the inverted index of prefix
    tokens — and because prefixes are each doc's globally RAREST tokens,
    posting lists stay short exactly where a naive token join explodes.
    A length filter (t·|A| ≤ |B|) prunes candidates before the exact
    verify.

    Shuffles: one token-frequency groupBy, one re-agg per doc, one
    equi-join on prefix token, one dedup. No cross join, no driver state.
    """
    base = df.select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(tokens(F.col("text"))).alias("_g"),
    )
    return _prefix_filter_pairs(base, threshold)


def _rarest_first(base: DataFrame) -> DataFrame:
    """Re-sort each (_id, _g: array<string>) set rarest-token-first using
    (global count, token) as the key — the AllPairs prefix ordering. No
    global row_number window (which would single-partition the sort at
    scale); shared by the symmetric Jaccard join and the asymmetric
    containment join so the ranking can never drift between them."""
    exploded = base.select("_id", F.explode("_g").alias("g"))
    freq = exploded.groupBy("g").agg(F.count("*").alias("cnt"))
    return (
        exploded.join(freq, "g")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cnt"), F.col("g")))
            ).alias("_sorted")
        )
        .select("_id", F.expr("transform(_sorted, x -> x.g)").alias("_g"))
    )


def _prefix(threshold: float) -> Column:
    """The first |_g| - ceil(t·|_g|) + 1 elements of a rarest-first `_g`:
    the prefix any set reaching a t-overlap must share a token with."""
    return F.expr(
        f"slice(_g, 1, size(_g) - cast(ceil({threshold} * size(_g)) as int) + 1)"
    )


def _jaccard_verify(cand: DataFrame, base: DataFrame,
                    threshold: float) -> DataFrame:
    """(id_a, id_b, inter_size, union_size, jaccard) of the candidates with
    exact Jaccard ≥ threshold: an integer cross-multiply test, so no float
    rounding can diverge from an independent engine's arithmetic, and the
    reported jaccard rounded to 6 places."""
    inter = F.col("inter_size")
    return (
        _verify_by_id(cand, base)
        .withColumn("union_size", F.col("size_a") + F.col("size_b") - inter)
        .where(inter >= F.lit(threshold) * F.col("union_size"))
        .select(
            "id_a", "id_b", "inter_size", "union_size",
            F.round(inter / F.col("union_size"), 6).alias("jaccard"),
        )
    )


def _prefix_filter_pairs(base: DataFrame, threshold: float) -> DataFrame:
    """AllPairs/PPJoin core over a prepared (_id, _g: array<string>) frame:
    exact Jaccard pairs (id_a < id_b, jaccard ≥ threshold) with
    inter_size/union_size. See prefix_filter_jaccard_pairs for the
    algorithm; factored out so n-gram (and any other set representation)
    reuses the same exact candidate engine.

    base feeds FOUR consumers (the inverted-index explode twice — token
    frequency and the per-doc re-sort join — plus both exact-verify
    array joins). A truncate_lineage(base) cut was A/B-tested here
    (fresh-JVM sf0.1, r5 second session): 5.58→6.13 s — the
    materialization job does NOT repay itself at this path's documented
    1k-doc oracle caps, where set construction is cheap; containment_pairs
    (uncapped corpus slice, same shape) keeps the cut because its A/B
    said 3.58→2.03 s. Re-cut if the caps are lifted."""
    inv = (
        _rarest_first(base)
        .withColumn("_prefix", _prefix(threshold))
        .select("_id", F.size("_g").alias("_len"), F.explode("_prefix").alias("g"))
    )
    a = inv.select("g", F.col("_id").alias("id_a"), F.col("_len").alias("len_a"))
    b = inv.select("g", F.col("_id").alias("id_b"), F.col("_len").alias("len_b"))
    cand = (
        a.join(b, "g")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("len_b") * threshold <= F.col("len_a"))
            & (F.col("len_a") * threshold <= F.col("len_b"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _jaccard_verify(cand, base, threshold)


# -- simhash (vectorized numpy over Arrow batches) ---------------------------


def _md5_token_hashes(flat: np.ndarray) -> np.ndarray:
    """64-bit token hash = first 8 bytes of md5(token), big-endian.

    md5 exists in Spark, DuckDB, and hashlib with identical output, so the
    WHOLE simhash pipeline is reproducible in the SQL oracle (the previous
    pd.util.hash_array siphash was engine-private). Python md5 runs once
    per UNIQUE token in the Arrow batch (np.unique inverse-mapping), not
    per occurrence — vocabulary ≪ token count."""
    uniq, inv = np.unique(flat, return_inverse=True)
    vals = np.fromiter(
        (
            int.from_bytes(hashlib.md5(str(t).encode()).digest()[:8], "big")
            for t in uniq
        ),
        dtype=np.uint64,
        count=len(uniq),
    )
    return vals[inv]


def _md5_votes(toks: pd.Series, dim: int) -> np.ndarray:
    """(n_docs, dim) vote matrix over token lists (`textops.tokens`, cut on
    the JVM): component j = Σ_tokens (+1 if bit j of the token's md5 hash
    else -1). Empty tokens are dropped, so empty and NULL text are the zero
    vector. Batch-vectorized: all tokens of the Arrow batch are flattened
    into one array, md5-hashed per unique token (`_md5_token_hashes`),
    expanded to a bit matrix and segment-summed per document — per-UNIQUE-
    token Python only, all per-occurrence work in numpy. dim ≤ 64 uses the
    token hash's bits directly."""
    assert dim <= 64
    tok_lists = [[x for x in t if x] if t is not None else [] for t in toks]
    lengths = np.array([len(t) for t in tok_lists], dtype=np.int64)
    sums = np.zeros((len(toks), dim), dtype=np.int64)
    if lengths.sum() == 0:
        return sums
    flat = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists if t])
    hashes = _md5_token_hashes(flat)  # (N,) uint64, deterministic
    bits = ((hashes[:, None] >> np.arange(dim, dtype=np.uint64)[None, :])
            & np.uint64(1)).astype(np.int64)  # (N, dim)
    np.add.at(sums, np.repeat(np.arange(len(toks)), lengths), bits)
    return sums * 2 - lengths[:, None]


def simhash_series(toks: pd.Series) -> pd.Series:
    """64-bit simhash per token list: the signs of the 64-component vote
    vector (`hash_embedding_series`) packed into one long."""
    votes = _md5_votes(toks, 64)
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
    packed = ((votes > 0).astype(np.uint64) * weights[None, :]).sum(axis=1)
    return pd.Series(packed.astype(np.int64), index=toks.index)


def simhash(df: DataFrame) -> DataFrame:
    @F.pandas_udf(T.LongType())
    def _udf(s: pd.Series) -> pd.Series:
        return simhash_series(s)

    return df.withColumn("simhash", _udf(tokens(F.col("text"))))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash: block on 4 × 16-bit chunks (any pair within
    Hamming ≤ 3 of a 64-bit signature shares at least one exact 16-bit chunk
    — pigeonhole), verify Hamming exactly via bit_count(xor)."""
    sh = simhash(df).select(F.col("doc_id").alias("_id"), "simhash")
    chunks = sh.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cval"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("_c"),
    ).select("_id", "simhash", "_c.chunk", "_c.cval")
    a = chunks.select("chunk", "cval", F.col("_id").alias("id_a"),
                      F.col("simhash").alias("sh_a"))
    b = chunks.select("chunk", "cval", F.col("_id").alias("id_b"),
                      F.col("simhash").alias("sh_b"))
    return (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    exact: bool = False,
) -> DataFrame:
    """Word-trigram Jaccard pairs (id_a < id_b, jaccard ≥ threshold), exact
    verify in both modes; `exact` selects the candidate generator:

    - exact=False (default, the scale path): MinHash-band equi-join on
      (band, bhash). A length-bucket range join is quadratic within buckets
      (measured: 8+ minutes at 5k docs); banding keeps candidate generation
      a plain equi-join at any scale. With 8 bands of 2 hashes a true pair
      at J≥0.5 is missed with probability (1-J²)⁸ ≤ 1.0%.
    - exact=True: prefix-filter inverted index on each doc's globally
      rarest grams (AllPairs, Bayardo WWW'07) — provably no missed pairs,
      so the result is brute-force oracle-able in an independent engine.

    Tokens are `textops.tokens`, grams `textops.word_ngrams`. Candidates
    travel as BARE id pairs in both modes; gram arrays are joined back BY
    ID only for the exact-Jaccard verify (`_jaccard_verify`, on the same
    `_verify_by_id` as minhash_lsh_pairs), so array payloads never ride
    the band join or the dropDuplicates exchange. Signatures come from the
    explode + K codegen'd min() aggregate shape (higher-order array lambdas
    are interpreted per element — the measured-slow path)."""
    base = (
        df.select(F.col("doc_id").alias("_id"),
                  tokens(F.col("text")).alias("_toks"))
        .withColumn("_g", F.array_distinct(word_ngrams(F.col("_toks"), 3)))
        .drop("_toks")
    )
    # gram arrays feed candidate generation AND both verify joins; cut the
    # lineage so tokenization runs once. eager=False: constructing the
    # pairs frame triggers no job.
    base = truncate_lineage(base, eager=False)
    if exact:
        return _prefix_filter_pairs(base, threshold).select(
            "id_a", "id_b", "jaccard"
        )
    hashed = base.select(
        "_id",
        F.explode(
            F.expr(f"transform(_g, s -> pmod(xxhash64(s), {_MERSENNE_31}))")
        ).alias("_h"),
    )
    cand = _band_candidates(hashed, 16, 8, 1000)
    return _jaccard_verify(cand, base, threshold).select(
        "id_a", "id_b", "jaccard"
    )


# Word n-gram width of benchmark decontamination (the GPT-3/PaLM 13-gram).
_DECONTAM_N = 13


def decontaminate(
    df: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    probe_text_col: str = "text",
    n: int = _DECONTAM_N,
) -> DataFrame:
    """Benchmark decontamination: flag every training document that shares
    at least one word n-gram (default 13, the GPT-3/PaLM convention) with
    the probe (benchmark/eval) corpus.

    Scale shape: the corpus side explodes each doc's DISTINCT grams and
    hashes each to xxhash64 right after the explode — 8 bytes per gram
    reach the join, never the gram strings; the probe side is a distinct
    hash set, typically millions of rows at most (benchmarks are small), so
    the membership test is a BROADCAST left-semi join: the 100 TB side is
    never shuffled. Tokens are `textops.tokens` and grams
    `textops.word_ngrams`; documents shorter than n tokens contribute their
    full token run as a single gram (both sides build grams identically,
    so the contract is symmetric).

    Reference parity note: no analogue in mjwolf/beats (training-data
    mandate); the n-gram overlap rule follows Brown et al. 2020 (GPT-3,
    appendix C) / Chowdhery et al. 2022 (PaLM, §6.1).
    """
    def _hashed(frame: DataFrame, col: str, with_id: bool) -> DataFrame:
        keep = ["_id"] if with_id else []
        toks = frame.where(F.col(col).isNotNull()).select(
            *([F.col("doc_id").alias("_id")] if with_id else []),
            tokens(F.col(col)).alias("_toks"),
        )
        grams = F.array_distinct(word_ngrams(F.col("_toks"), n))
        return toks.select(*keep, F.explode(grams).alias("_g")).select(
            *keep, F.xxhash64("_g").alias("_h")
        )

    doc_h = _hashed(df, text_col, True)
    probe_h = _hashed(probe, probe_text_col, False).distinct()
    hits = (
        doc_h.join(F.broadcast(probe_h), "_h", "left_semi")
        .select("_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
        .withColumnRenamed("_id", "doc_id")
    )
    return df.join(hits, "doc_id", "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


# sentence tokenizer shared by span_dedup and its DuckDB oracle: runs up to
# and including trailing terminal punctuation, plus a possible unterminated
# tail — the two alternatives partition EVERY character of the text (no
# content can be lost), and the syntax is expressible identically in Java
# regex and RE2 (no lookaround)
SENTENCE_RE = r"[^.!?]*[.!?]+|[^.!?]+"
_SPAN_SEP = "\x1f"


def sentences_expr(text_col: str) -> Column:
    """Trimmed, non-empty sentences of a document (deterministic regex
    tokenization — the oracle-compatible stand-in for a linguistic
    sentence splitter)."""
    raw = F.regexp_extract_all(F.col(text_col), F.lit(SENTENCE_RE), F.lit(0))
    return F.filter(F.transform(raw, lambda s: F.trim(s)),
                    lambda s: s != "")


def _first_occurrence_dedup(
    df: DataFrame,
    k: int,
    units: Column,
    units_col: str,
    count_col: str,
) -> DataFrame:
    """The windowed first-occurrence dedup behind span_dedup (sentence
    units) and exact_substr_dedup (token units). Every `k`-unit window is
    hashed map-side (one xxhash64 per window); a window hash that occurs
    more than once keeps only its first occurrence (min (id, pos)); every
    other occurrence has its covered units removed. Emits `count_col`,
    ``n_removed`` and ``deduped`` (kept units joined with single spaces)."""
    base = df.withColumn(units_col, units).withColumn(count_col, F.size(units_col))
    win_hashes = F.when(
        F.col(count_col) >= k,
        F.transform(
            F.sequence(F.lit(1), F.col(count_col) - (k - 1)),
            lambda i: F.xxhash64(
                F.concat_ws(
                    _SPAN_SEP,
                    *[F.element_at(F.col(units_col), i + off) for off in range(k)],
                )
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))

    occ = base.select(
        F.col("doc_id").alias("_id"), F.posexplode(win_hashes).alias("_pos0", "_h")
    ).select("_id", (F.col("_pos0") + 1).alias("_pos"), "_h")

    per_hash = occ.groupBy("_h").agg(
        F.count("*").alias("_cnt"),
        F.min(F.struct("_id", "_pos")).alias("_owner"),
    )
    dups = (
        occ.join(per_hash.where(F.col("_cnt") > 1), "_h")
        .where(
            (F.col("_id") != F.col("_owner._id"))
            | (F.col("_pos") != F.col("_owner._pos"))
        )
        .select("_id", "_pos")
    )
    removed = (
        dups.select(
            "_id",
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + (k - 1))
            ).alias("_ridx"),
        )
        .groupBy("_id")
        .agg(F.array_sort(F.collect_set("_ridx")).alias("_removed"))
    )

    out = base.join(
        removed.withColumnRenamed("_id", "doc_id"), "doc_id", "left"
    )
    kept = F.filter(
        F.col(units_col),
        lambda s, i: ~F.coalesce(
            F.array_contains(F.col("_removed"), i + 1), F.lit(False)
        ),
    )
    return (
        out.withColumn("n_removed", F.coalesce(F.size("_removed"), F.lit(0)))
        .withColumn("deduped", F.array_join(kept, " "))
        .drop(units_col, "_removed")
    )


# Sentences per span in span-level dedup.
_SPAN_SENTS = 3


def span_dedup(df: DataFrame) -> DataFrame:
    """C4 three-sentence-span global dedup (Raffel et al. 2020 §2.2: "we
    discarded all but one of any three-sentence span occurring more than
    once in the data set"). For every three-sentence window that
    occurs more than once corpus-wide, only the first occurrence (min
    (doc_id, span_idx)) keeps its sentences; every other occurrence has its
    covered sentences removed. Emits ``n_sentences``, ``n_removed`` and
    ``deduped`` (kept sentences re-joined with single spaces — whitespace
    is normalized, content is not).

    Scale shape — the 100 TB property is that TEXT NEVER SHUFFLES:
      1. span hashes are built map-side from the sentence array (one
         xxhash64 per window — the 1-hash-per-element regime where an
         in-array fold/transform beats explode, per doc_fingerprint's A/B);
      2. the global first-occurrence resolution shuffles bare
         (hash, doc_id, span_idx) triples — 24 bytes per span;
      3. removed sentence indexes aggregate back to one short array per
         AFFECTED doc and join the original frame BY ID — broadcast while
         the affected-doc set fits (it's orders smaller than the corpus;
         stats/AQE pick this automatically, the plan gate in test_plans
         pins it at test scale), degrading to one by-id hash join — the
         only exchange text can ever ride, and none of the span-resolution
         shuffles;
      4. the rebuild is an in-array filter against that index set.
    Duplicate-span equality is on xxhash64 of the joined window, so a 64-bit
    collision could remove a non-duplicate span (same accepted odds as
    decontaminate); the oracle dedups on the span STRINGS and would catch
    one as a hash mismatch.
    """
    return _first_occurrence_dedup(
        df, _SPAN_SENTS, sentences_expr("text"), "_sents", "n_sentences"
    )


def _first_occurrence_dedup_oracle(table: str, k: int, units: str,
                                   count_col: str) -> str:
    """DuckDB twin of _first_occurrence_dedup over the unit list SQL
    `units`, deduping on window STRINGS (no hashing) — an independent
    algorithm: window row_number for first-occurrence instead of
    min-struct aggregation."""
    win = " || chr(31) || ".join(f"units[i+{off}]" for off in range(k))
    return f"""
WITH base AS (
  SELECT doc_id AS _id, {units} AS units
  FROM {table} WHERE text IS NOT NULL
),
occ AS (
  SELECT _id, i AS pos, {win} AS win
  FROM base, unnest(range(1, greatest(len(units) - {k - 1}, 0) + 1)) AS t(i)
),
marked AS (
  SELECT _id, pos,
         row_number() OVER (PARTITION BY win ORDER BY _id, pos) AS rn,
         count(*) OVER (PARTITION BY win) AS cnt
  FROM occ
),
removed AS (
  SELECT _id, list_sort(list_distinct(list(pos + off.o))) AS ridx
  FROM marked, (SELECT unnest(range(0, {k})) AS o) off
  WHERE cnt > 1 AND rn > 1
  GROUP BY _id
),
joined AS (
  SELECT b._id, b.units, coalesce(r.ridx, []) AS ridx
  FROM base b LEFT JOIN removed r USING (_id)
)
SELECT _id AS doc_id, len(units) AS {count_col},
       len(ridx) AS n_removed,
       coalesce(array_to_string(
         list_filter(list_transform(range(1, len(units) + 1),
                     i -> CASE WHEN NOT list_contains(ridx, i)
                               THEN units[i] END),
                     x -> x IS NOT NULL), ' '), '') AS deduped
FROM joined
"""


def span_dedup_oracle(table: str = "documents") -> str:
    """DuckDB twin of span_dedup, deduping on span STRINGS (no hashing)."""
    sents = (
        f"list_filter(list_transform(regexp_extract_all(text,"
        f" '{SENTENCE_RE}'), s -> trim(s)), s -> s != '')"
    )
    return _first_occurrence_dedup_oracle(table, _SPAN_SENTS,
                                          sents, "n_sentences")


def exact_substr_dedup(df: DataFrame, window: int) -> DataFrame:
    """ExactSubstr dedup at token granularity (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" §4.1: remove
    every duplicated substring of >= N tokens, keeping one occurrence).
    span_dedup's token-level twin: any `window`-token span occurring more
    than once corpus-wide keeps only its first occurrence (min (doc_id,
    pos)); every other occurrence has its covered token positions removed.
    Tokens are `textops.tokens` (whitespace split of trim+lower), so
    duplicates that straddle sentence boundaries — invisible to the
    sentence-window C4 pass — are caught. Emits ``n_tokens``,
    ``n_removed`` and ``deduped`` (kept tokens re-joined with spaces).

    Scale shape is identical to span_dedup (the 100 TB property is that
    TEXT NEVER SHUFFLES): window hashes fold map-side from the token array
    (one xxhash64 per position), the global first-occurrence resolution
    shuffles bare (hash, id, pos) triples, removed positions aggregate to
    one short array per AFFECTED doc and join back BY ID, and the rebuild
    is an in-array filter. Reference analogue: the suffix-array ExactSubstr
    tool is a separate Rust binary in the paper's repo; here the same
    semantics ride the engine's own shuffle machinery. 64-bit window-hash
    collisions could remove a non-duplicate span (same accepted odds as
    span_dedup/decontaminate); the oracle dedups on the window STRINGS and
    would surface one as a hash mismatch.
    """
    return _first_occurrence_dedup(
        df, window, tokens(F.col("text")), "_toks", "n_tokens"
    )


def exact_substr_dedup_oracle(table: str, window: int) -> str:
    """DuckDB twin of exact_substr_dedup, deduping on token-window STRINGS
    (no hashing)."""
    return _first_occurrence_dedup_oracle(table, window,
                                          tokens_sql("text"), "n_tokens")


# -- Bloom-filter decontamination ----------------------------------------------
#
# `decontaminate` broadcasts the probe's DISTINCT n-gram hash set — exact, and
# fine while benchmarks are small. At 100 TB the probe side can itself be huge
# (decontaminating against another full corpus, or thousands of benchmarks):
# the scale path compresses the probe set into a Bloom bitmap of fixed size
# (m bits, k hash functions), broadcast as ONE row, membership tested map-only
# per document. False positives exist by construction (over-flagging only —
# the safe direction for decontamination) and are DETERMINISTIC: both engines
# derive the same k positions from md5, so the oracle reproduces them exactly.
#
# Positions use Kirsch-Mitzenmacher double hashing (h1 + i*h2 mod m) from two
# 32-bit md5 halves; the bitmap is stored as m/32 int32 words so every shift
# stays within BIGINT range in both engines. Build and test take their grams
# from the one builder, `textops.word_ngrams`: a drift between the two sides
# would silently under-flag.

_BLOOM_WORD = 32


def bloom_positions_exprs(gram: str, m_bits: int, k_hashes: int) -> list[str]:
    """SQL expressions (Spark dialect) for the k bit positions of `gram`."""
    h1 = f"CAST(conv(substr(md5({gram}), 1, 8), 16, 10) AS BIGINT)"
    h2 = f"CAST(conv(substr(md5({gram}), 9, 8), 16, 10) AS BIGINT)"
    return [f"(({h1} + {i} * {h2}) % {m_bits})" for i in range(k_hashes)]


def bloom_build(
    probe: DataFrame,
    text_col: str = "text",
    n: int = 13,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> list[int]:
    """Dense m/32-word Bloom bitmap of the probe corpus's word n-grams.

    The aggregation is fully distributed (explode positions → per-word
    bit_or with map-side partials); only the FINISHED bitmap — m/32 ints,
    a few KB, independent of probe size — ever reaches the driver, the
    same bounded-driver-state class as the CC convergence fingerprint."""
    if m_bits % _BLOOM_WORD:
        raise ValueError(f"m_bits must be a multiple of {_BLOOM_WORD}")
    pos_exprs = bloom_positions_exprs("_g", m_bits, k_hashes)
    words = (
        probe.where(F.col(text_col).isNotNull())
        .select(tokens(F.col(text_col)).alias("_toks"))
        .select(F.explode(
            F.array_distinct(word_ngrams(F.col("_toks"), n))).alias("_g"))
        .select(F.explode(F.array(
            *[F.expr(e).cast("long") for e in pos_exprs]
        )).alias("_pos"))
        .select(
            (F.col("_pos") / _BLOOM_WORD).cast("int").alias("_w"),
            (F.col("_pos") % _BLOOM_WORD).cast("int").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), _b)"))
             .alias("_bits"))
        .collect()
    )
    bitmap = [0] * (m_bits // _BLOOM_WORD)
    for r in words:
        bitmap[r["_w"]] = int(r["_bits"])
    return bitmap


# Bloom filter size (bits) and hash count of the decontamination probe.
_BLOOM_M_BITS = 1 << 16
_BLOOM_K_HASHES = 4


def bloom_decontaminate(
    df: DataFrame,
    probe: DataFrame,
    n: int = _DECONTAM_N,
) -> DataFrame:
    """Bloom-filter twin of `decontaminate`: flags every training document
    one of whose word n-grams tests positive against the probe corpus's
    Bloom bitmap. Over-flags (never under-flags) relative to the exact
    semi-join, deterministically — `_BLOOM_M_BITS` is sized for the probe's
    distinct gram count to keep the false-positive rate acceptable
    (k=4, m/n_grams=16 → ~0.2%).

    Scale shape: the bitmap rides to executors as a one-row broadcast
    nested-loop join (a few KB regardless of probe size); the membership
    test is an `exists` over the per-document gram array — map-only, no
    explode, no shuffle of the 100 TB side, text never leaves the scan.

    Reference parity note: no analogue in mjwolf/beats (training-data
    mandate); rule follows Brown et al. 2020 app. C with the Bloom
    compression used by large-corpus dedup tooling (e.g. Dolma).
    """
    bitmap = bloom_build(probe, "text", n, _BLOOM_M_BITS, _BLOOM_K_HASHES)
    spark = df.sparkSession
    bm = spark.createDataFrame([(bitmap,)], "_bloom array<bigint>")
    checks = " AND ".join(
        f"(shiftright(element_at(_bloom, CAST({p} div {_BLOOM_WORD} AS INT) + 1),"
        f" CAST({p} % {_BLOOM_WORD} AS INT)) & 1) = 1"
        for p in bloom_positions_exprs("g", _BLOOM_M_BITS, _BLOOM_K_HASHES)
    )
    hit = F.expr(f"exists(_grams, g -> {checks})")
    out = (
        df.withColumn(
            "_toks",
            F.when(F.col("text").isNotNull(), tokens(F.col("text"))),
        )
        .withColumn("_grams",
                    F.when(F.col("_toks").isNotNull(),
                           F.array_distinct(word_ngrams(F.col("_toks"), n))))
        .join(F.broadcast(bm))
        .withColumn("contaminated", F.coalesce(hit, F.lit(False)))
        .drop("_toks", "_grams", "_bloom")
    )
    return out


def bloom_decontaminate_sql(table: str = "documents") -> str:
    """DuckDB twin: rebuilds the identical bitmap (same md5 double-hash
    positions, same 32-bit words) and re-tests every document, false
    positives included."""
    h1 = "('0x' || substr(md5(g), 1, 8))::BIGINT"
    h2 = "('0x' || substr(md5(g), 9, 8))::BIGINT"
    poss = ", ".join(
        f"(({h1} + {i} * {h2}) % {_BLOOM_M_BITS}) AS p{i}"
        for i in range(_BLOOM_K_HASHES)
    )
    unp = ", ".join(f"p{i}" for i in range(_BLOOM_K_HASHES))
    return f"""
WITH toks AS (
  SELECT doc_id AS _id, {tokens_sql('text')} AS t
  FROM {table} WHERE text IS NOT NULL
),
grams AS (
  SELECT _id, unnest(list_distinct({word_ngrams_sql("t", _DECONTAM_N, guarded=False)})) AS g
  FROM toks
),
probe_pos AS (
  SELECT unnest([{unp}]) AS pos
  FROM (SELECT {poss} FROM (SELECT DISTINCT g FROM grams
                            WHERE _id IN (SELECT doc_id FROM {table}
                                          WHERE doc_id % 7 = 0)) s) q
),
bloom AS (
  SELECT pos // {_BLOOM_WORD} AS w,
         bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INT)) AS bits
  FROM probe_pos GROUP BY 1
),
gram_pos AS (
  SELECT _id, g, unnest([{unp}]) AS pos
  FROM (SELECT _id, g, {poss} FROM grams) q
),
gram_hit AS (
  SELECT gp._id, gp.g,
         bool_and(coalesce((b.bits >> CAST(gp.pos % {_BLOOM_WORD} AS INT))
                           & 1, 0) = 1) AS hit
  FROM gram_pos gp LEFT JOIN bloom b ON gp.pos // {_BLOOM_WORD} = b.w
  GROUP BY 1, 2
),
flags AS (
  SELECT t._id, coalesce(h.hit, FALSE) AS contaminated
  FROM toks t LEFT JOIN (SELECT _id, bool_or(hit) AS hit
                         FROM gram_hit GROUP BY 1) h USING (_id)
)
SELECT _id AS doc_id, contaminated FROM flags
""".strip()


# Word n-gram width of the containment join, shared by its oracle.
_CONTAINMENT_N = 3


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    ngram_n: int = _CONTAINMENT_N,
) -> DataFrame:
    """EXACT directed containment join over word n-gram sets: every
    ordered pair (a, b) with |grams(a) ∩ grams(b)| / |grams(a)| >=
    threshold — "a is mostly contained in b". n-grams (default 3) rather
    than unigrams because token SETS saturate on a small shared
    vocabulary (unigram containment flagged 58% of all ordered pairs on
    the test corpus; 3-gram containment flags exactly the planted
    near-dups) — word order has to agree, not just word choice. The asymmetric complement to the Jaccard join:
    Jaccard misses a short quote embedded in a long document (the union
    dwarfs the intersection), while containment is exactly the
    quote/subset/boilerplate-inclusion detector (Broder 1997's
    containment coefficient).

    Prefix filtering adapts to the asymmetric threshold (Bayardo et al.
    WWW'07 §3.2): only the PROBE side (a) can be pruned — if
    C(a→b) >= t then at most |a| - ceil(t·|a|) tokens of a can miss b, so
    a's rarest |a| - ceil(t·|a|) + 1 tokens must contain a witness in b.
    The container side (b) posts its full token set; the join key is a's
    prefix tokens, which are its globally RAREST — so the full posting
    lists are probed only at their short, rare entries. A size filter
    (|b| >= t·|a|) prunes before the exact array-intersect verify, which
    joins token arrays back BY ID — arrays never ride the candidate
    exchange.

    Shuffles: one token-frequency groupBy, one per-doc re-agg, one
    equi-join on prefix token, one candidate dedup, two by-id verify
    joins. No cross join, no driver state.

    Reference parity note: no analogue in mjwolf/beats (training-data
    mandate).
    """
    # guarded: docs shorter than n tokens yield an empty gram set, as in the
    # oracle
    grams = word_ngrams(F.col("_toks"), ngram_n, guarded=True)
    base = truncate_lineage(
        df.where(F.col("text").isNotNull())
        .select(F.col("doc_id").alias("_id"), tokens(F.col("text")).alias("_toks"))
        .select("_id", F.array_distinct(grams).alias("_g"))
        .where(F.size("_g") > 0)
    )
    # lineage cut: base feeds the _rarest_first inverted index and both
    # exact-verify array joins — same rationale as _prefix_filter_pairs
    ranked = _rarest_first(base)
    probe = ranked.withColumn("_prefix", _prefix(threshold)).select(
        F.col("_id").alias("id_a"), F.size("_g").alias("size_a"),
        F.explode("_prefix").alias("g"),
    )
    container = ranked.select(
        F.col("_id").alias("id_b"), F.size("_g").alias("len_b"),
        F.explode("_g").alias("g"),
    )
    cand = (
        probe.join(container, "g")
        .where(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("len_b") >= F.lit(threshold) * F.col("size_a"))
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    inter = F.col("inter_size")
    return (
        _verify_by_id(cand, base)
        .where(inter >= F.lit(threshold) * F.col("size_a"))
        .select(
            "id_a", "id_b", "inter_size", "size_a",
            F.round(inter / F.col("size_a"), 6).alias("containment"),
        )
    )


def containment_pairs_sql(table: str, threshold: float) -> str:
    """DuckDB oracle: brute-force all-ordered-pairs containment — an
    INDEPENDENT algorithm (no prefix filter), so it also proves the
    filter misses nothing. Quadratic: cap the table slice."""
    return f"""
WITH toks AS (
  SELECT doc_id AS _id, {tokens_sql('text')} AS tk
  FROM {table} WHERE text IS NOT NULL
),
sets AS (
  SELECT _id, list_distinct({word_ngrams_sql("tk", _CONTAINMENT_N, guarded=True)}) AS g
  FROM toks
),
pairs AS (
  SELECT a._id AS id_a, b._id AS id_b,
         len(list_intersect(a.g, b.g)) AS inter_size,
         len(a.g) AS size_a
  FROM sets a JOIN sets b ON a._id != b._id
  WHERE len(a.g) > 0
)
SELECT id_a, id_b, inter_size, size_a,
       round(CAST(inter_size AS DOUBLE) / size_a, 6) AS containment
FROM pairs WHERE inter_size >= {threshold} * size_a
""".strip()


def hash_embedding_series(toks: pd.Series, dim: int = 64) -> pd.Series:
    """Model-free deterministic document embedding by feature hashing
    (Weinberger et al. 2009's hashing trick with ±1 signs): component j =
    Σ_tokens (+1 if bit j of md5(token) else -1) — exactly the simhash
    vote vector BEFORE sign compression (`_md5_votes`, the kernel both
    share), kept dense so it can feed the ANN/SemDeDup stack when no
    learned model is available."""
    return pd.Series(list(_md5_votes(toks, dim)), index=toks.index)


def hash_embedding(df: DataFrame, dim: int = 64) -> DataFrame:
    """Attach the feature-hashing embedding as array<long>. Map-only Arrow
    kernel — the output vectors plug directly into similarity.cosine_topk /
    lsh_topk / semdedup (cast to float as needed; lsh_topk takes its planes
    from the corpus, so the ids must cover its plane id range), giving the
    full ANN and semantic-dedup stack a deterministic, model-free input
    column.

    Reference parity note: no analogue in mjwolf/beats (training-data
    mandate)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        return hash_embedding_series(s, dim)

    return df.withColumn("hash_emb", _udf(tokens(F.col("text"))))
