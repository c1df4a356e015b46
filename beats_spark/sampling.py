"""Deterministic sampling for training-data mix construction.

Training pipelines need REPRODUCIBLE sampling: the same document must make
the same keep/drop decision on every run, on any cluster, at any
parallelism — `df.sample()` (seeded per-partition RNG) breaks the moment
partitioning changes. The operators here decide from a cryptographic hash
of the row's stable id + a salt, so decisions are stable under
repartitioning, retries, AND incremental reruns over grown inputs, and the
identical rule renders to DuckDB SQL for the correctness oracle.

Everything is pure Column expressions — map-only, no shuffle, no UDF.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import tokens, tokens_sql

_HEX_SPACE = 16 ** 8  # decisions use the first 8 hex chars of md5


def _hex_threshold(rate: float) -> str:
    """8-hex-char threshold such that P[md5_prefix < t] == rate.
    Lowercase-hex string comparison is monotone in the underlying value
    ('0'-'9' < 'a'-'f' in ASCII), so both engines compare identically."""
    n = int(round(min(max(rate, 0.0), 1.0) * _HEX_SPACE))
    return format(min(n, _HEX_SPACE - 1), "08x")


_NULL_ID = "\x00null"  # sentinel so a null id gets ONE well-defined decision


def _decision_hex(salt: str) -> Column:
    # coalesce (not concat_ws null-skipping) so Spark and DuckDB hash the
    # same string for null ids: concat_ws would silently drop the null while
    # the SQL `||` yields NULL — the engines would diverge on null-id rows.
    return F.substring(
        F.md5(
            F.concat(
                F.coalesce(F.col("doc_id").cast("string"), F.lit(_NULL_ID)),
                F.lit(":" + salt),
            )
        ),
        1, 8,
    )


def _decision_hex_sql(salt: str) -> str:
    return (
        f"substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'null')"
        f" || ':{salt}'), 1, 8)"
    )


def deterministic_sample(df: DataFrame, rate: float,
                         salt: str = "") -> DataFrame:
    """Flag each row kept iff md5(id:salt) prefix falls under `rate`.
    Different salts give independent samples of the same corpus (held-out
    splits); resolution is 1/2^32."""
    if rate >= 1.0:
        return df.withColumn("sampled", F.lit(True))
    return df.withColumn(
        "sampled", _decision_hex(salt) < F.lit(_hex_threshold(rate))
    )


def stratified_sample(
    df: DataFrame, rates: dict[str, float], salt: str, default_rate: float
) -> DataFrame:
    """Per-stratum deterministic sampling — the training-data "mix" step:
    each stratum (source / domain / language) keeps its own rate. The rate
    table is compiled INTO the plan as a when-chain (strata counts are
    small: domains, not documents), so the op stays a map-only scan with
    no join at any corpus size."""
    hexv = _decision_hex(salt)
    pred = F.lit(None).cast("boolean")
    dec = None
    for stratum, rate in sorted(rates.items()):
        this = (
            F.lit(True) if rate >= 1.0
            else hexv < F.lit(_hex_threshold(rate))
        )
        cond = F.col("source") == stratum
        dec = F.when(cond, this) if dec is None else dec.when(cond, this)
    fallback = (
        F.lit(True) if default_rate >= 1.0
        else hexv < F.lit(_hex_threshold(default_rate))
    )
    pred = fallback if dec is None else dec.otherwise(fallback)
    return df.withColumn("sampled", pred)


def stratified_topn(df: DataFrame, n: int, salt: str = "") -> DataFrame:
    """EXACT-count per-stratum sample: keep precisely min(n, |stratum|)
    rows from each stratum — "take exactly 10k docs per source", the
    quota-based twin of rate-based stratified_sample. The pick is the n
    smallest md5(id:salt) prefixes per stratum, so it is uniform,
    reproducible under repartitioning/retries, and STABLE UNDER CORPUS
    GROWTH in the same sense as the rate samplers: a kept doc is only ever
    displaced by a new doc hashing below it, never reshuffled at random.

    Scale: one exchange on `source`; the window's per-partition sort is
    the standard per-group top-N plan (rank ≤ n lets AQE and the sort
    short-circuit spill to disk safely — no global sort, no driver state).
    Skewed strata sort within their own partitions only; for pathological
    single-stratum corpora use deterministic_sample with rate ≈ n/|N|
    first, then exact-trim the small survivor set with this."""
    from pyspark.sql import Window as W

    hexv = _decision_hex(salt)
    w = W.partitionBy("source").orderBy(
        hexv.asc(), F.col("doc_id").asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def stratified_topn_sql(n: int, salt: str) -> str:
    """DuckDB twin selecting the identical per-stratum rows."""
    hexv = _decision_hex_sql(salt)
    return f"""
SELECT * EXCLUDE (_rn) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY {hexv}, doc_id) AS _rn
  FROM documents)
WHERE _rn <= {n}
""".strip()


def stratified_sample_sql(
    rates: dict[str, float], salt: str, default_rate: float
) -> str:
    """DuckDB fragment computing the identical keep flag."""
    hexv = _decision_hex_sql(salt)

    def rule(rate: float) -> str:
        if rate >= 1.0:
            return "TRUE"
        return f"{hexv} < '{_hex_threshold(rate)}'"

    whens = " ".join(
        f"WHEN source = '{s}' THEN {rule(r)}"
        for s, r in sorted(rates.items())
    )
    return f"CASE {whens} ELSE {rule(default_rate)} END"


# -- DSIR: Data Selection via Importance Resampling ---------------------------
#
# Xie et al. 2023 (arXiv:2302.03169, NeurIPS): select pretraining documents
# whose hashed-ngram feature distribution looks like a small TARGET corpus.
# Per document, importance log-weight = Σ_features count · (log p_target(f)
# − log p_raw(f)). At web scale this is the standard "make CommonCrawl look
# like Wikipedia" curation step.
#
# Engine shape (all map-only + two tiny aggregates):
#   1. explode docs into (id, bucket) hashed-bigram pairs — bare longs, the
#      text never leaves its scan partition;
#   2. bucket distributions for target and pool: groupBy(bucket).count() —
#      map-side combine collapses to ≤ num_buckets rows per task, the
#      shuffle carries at most num_buckets × tasks tiny rows;
#   3. a num_buckets-row log-ratio table, broadcast back onto the pairs;
#   4. per-doc Σ count·ratio — explode preserves row locality, so partial
#      aggregation collapses each doc map-side before the id shuffle.
#
# Cross-engine exactness: buckets come from the first 3 hex chars of
# md5(bigram) (identical text in both engines), and the log-ratio is
# QUANTIZED to an integer (round(1e6·Δlog)) in both engines — per-doc
# weights are then exact integer sums, immune to float summation order.

_DSIR_BUCKETS = 4096  # 3 md5 hex chars
_DSIR_SCALE = 1_000_000


def _dsir_pairs(df: DataFrame, is_target: Column) -> DataFrame:
    """(id, is-target, bucket) hashed-bigram pairs over `textops.tokens`.
    One explode serves both the distribution aggregates and the per-doc
    weight sum."""
    toks = tokens(F.col("text"))
    buckets = F.when(
        F.size(F.col("_toks")) >= 2,
        F.expr(
            # arrays are 0-based in SQL subscripts; the size>=2 guard above
            # keeps sequence() ascending
            f"transform(sequence(1, size(_toks) - 1), i -> "
            f"CAST(conv(substr(md5(concat(_toks[i-1], ' ', _toks[i])), 1, 3),"
            f" 16, 10) AS INT))"
        ),
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(F.col("doc_id").alias("_id"), is_target.alias("_t"),
                  toks.alias("_toks"))
        .select("_id", "_t", F.explode(buckets).alias("_b"))
    )


def dsir_weights(df: DataFrame, is_target: Column) -> DataFrame:
    """Integer-exact DSIR importance log-weights (scaled ×1e6).

    `is_target` marks the rows whose bigram distribution defines the
    target; the WHOLE frame is the raw pool being selected from. Returns
    (doc_id, dsir_weight: bigint) for every input row — docs with fewer
    than two tokens weigh 0. Laplace-smoothed (+1 per bucket), so buckets
    unseen in the target are penalties, not -inf.
    """
    # lineage cut: pairs feeds the distribution aggregate, its totals
    # re-aggregation, and the per-doc weight sum — three executions of the
    # corpus explode without it (5 FileScans audited in the r5 second
    # session's scan audit; fresh-JVM sf0.1 A/B on dsir_select:
    # 5.6→1.6 s). The materialized rows are bare
    # (id, bool, int16-sized bucket) triples.
    from beats_spark.scale import truncate_lineage

    pairs = truncate_lineage(_dsir_pairs(df, is_target))
    dist = pairs.groupBy("_b").agg(
        F.count("*").alias("_rc"),
        F.count(F.when(F.col("_t"), 1)).alias("_tc"),
    )
    totals = dist.agg(
        F.sum("_rc").alias("R"), F.sum("_tc").alias("T")
    )
    B = float(_DSIR_BUCKETS)
    ratio = dist.crossJoin(F.broadcast(totals)).select(
        "_b",
        F.round(
            F.lit(_DSIR_SCALE)
            * (
                F.log(F.col("_tc") + 1) - F.log(F.col("T") + B)
                - F.log(F.col("_rc") + 1) + F.log(F.col("R") + B)
            )
        ).cast("long").alias("_lr"),
    )
    per_doc = (
        pairs.join(F.broadcast(ratio), "_b")
        .groupBy("_id")
        .agg(F.sum("_lr").alias("dsir_weight"))
    )
    return (
        df.select(F.col("doc_id").alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias("doc_id"),
            F.coalesce("dsir_weight", F.lit(0)).alias("dsir_weight"),
        )
    )


def dsir_weights_sql(target_pred: str) -> str:
    """DuckDB CTE chain computing the identical integer weights, ending in
    a relation `dsir(doc_id, dsir_weight)` (compose with `WITH ... SELECT`)."""
    B = _DSIR_BUCKETS
    S = _DSIR_SCALE
    return f"""
toks AS (
  SELECT doc_id AS _id, ({target_pred}) AS _t,
         {tokens_sql('text')} AS t
  FROM documents
),
pairs AS (
  SELECT _id, _t,
         ('0x' || substr(md5(t[g.i] || ' ' || t[g.i + 1]), 1, 3))::BIGINT AS _b
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
),
dist AS (
  SELECT _b, count(*) AS _rc,
         count(*) FILTER (WHERE _t) AS _tc
  FROM pairs GROUP BY 1
),
tot AS (SELECT sum(_rc) AS R, sum(_tc) AS T FROM dist),
ratio AS (
  SELECT _b, CAST(round({S} * (ln(_tc + 1) - ln(T + {B})
                               - ln(_rc + 1) + ln(R + {B}))) AS BIGINT) AS _lr
  FROM dist, tot
),
dsir AS (
  SELECT t.doc_id AS doc_id,
         coalesce(w.dsir_weight, 0) AS dsir_weight
  FROM (SELECT doc_id FROM documents) t
  LEFT JOIN (
    SELECT p._id, CAST(sum(r._lr) AS BIGINT) AS dsir_weight
    FROM pairs p JOIN ratio r USING (_b) GROUP BY 1
  ) w ON t.doc_id = w._id
)
""".strip()


def gumbel_topk(
    weights: DataFrame,
    k: int,
    salt: str = "dsir",
    temperature: float = 1.0,
) -> DataFrame:
    """DSIR's sampling-without-replacement step: top-k by
    log-weight + Gumbel noise (Gumbel-max trick). Noise comes from the
    md5 hash of (id:salt) — deterministic under repartitioning and reruns,
    like every other sampling decision in this module. temperature scales
    the noise relative to the (×1e6-scaled) weights; 0 disables it (pure
    argmax — the exact mode the correctness oracle checks)."""
    u = (
        F.conv(_decision_hex(salt), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_HEX_SPACE))
    gumbel = -F.log(-F.log(u))
    score = F.col("dsir_weight").cast("double") + (
        F.lit(temperature * _DSIR_SCALE) * gumbel if temperature else F.lit(0.0)
    )
    # orderBy + limit → TakeOrderedAndProject: per-partition bounded heaps
    # merged on the driver, never a global sort
    return (
        weights.withColumn("_score", score)
        .orderBy(F.col("_score").desc(), F.col("doc_id"))
        .limit(k)
        .drop("_score")
    )


# -- CCNet-style perplexity quality scoring ------------------------------------
#
# CCNet (Wenzek et al. 2020, arXiv:1911.00359) ranks CommonCrawl documents by
# the perplexity of a language model trained on a clean target corpus and
# keeps the low-perplexity head. No external LM ships in this engine, so the
# model IS trained in-plan: a hashed-bigram LM over the same md5-bucket
# feature space DSIR uses, estimated from the `is_target` slice in two tiny
# (≤4096-row) aggregates. Per position, NLL = −[ln(C2(b2)+1) − ln(C1(b1)+B)]
# (add-one smoothing over the B-bucket space), quantized to round(1e6·x) in
# BOTH engines — per-doc sums are exact integer arithmetic. This is a
# hashed-feature quality SIGNAL (bucket collisions make it an approximation
# of a true bigram LM), which is exactly how it is used: rank and trim, like
# CCNet's head/middle/tail split.
#
# Plan shape = DSIR's: one explode of bare (id, b1, b2) ints, two ≤4096-row
# target-count aggregates broadcast back, one per-doc sum that partial-
# aggregates map-side. Text never shuffles.


def _lm_positions(df: DataFrame, is_target: Column) -> DataFrame:
    """(id, is-target, b1: unigram-context bucket, b2: bigram bucket) per
    adjacent token position (`textops.tokens`)."""
    toks = tokens(F.col("text"))
    pos = F.when(
        F.size(F.col("_toks")) >= 2,
        F.expr(
            "transform(sequence(1, size(_toks) - 1), i -> struct("
            "CAST(conv(substr(md5(_toks[i-1]), 1, 3), 16, 10) AS INT) AS b1,"
            "CAST(conv(substr(md5(concat(_toks[i-1], ' ', _toks[i])), 1, 3),"
            " 16, 10) AS INT) AS b2))"
        ),
    ).otherwise(F.array().cast("array<struct<b1:int,b2:int>>"))
    return (
        df.select(F.col("doc_id").alias("_id"), is_target.alias("_t"),
                  toks.alias("_toks"))
        .select("_id", "_t", F.explode(pos).alias("_p"))
        .select("_id", "_t", F.col("_p.b1").alias("_b1"),
                F.col("_p.b2").alias("_b2"))
    )


def lm_nll_scores(df: DataFrame, is_target: Column) -> DataFrame:
    """Integer-exact hashed-bigram NLL under the target-slice LM.

    Returns (doc_id, nll_sum: bigint ×1e6-scaled, n_bigrams: bigint,
    nll_per_pos_milli: bigint) for every input row; docs with <2 tokens
    score (0, 0, 0). Lower nll_per_pos_milli = more target-like (CCNet
    'head'). All smoothing uses the 4096-bucket space."""
    pos = _lm_positions(df, is_target)
    B = float(_DSIR_BUCKETS)
    # same cut as dsir_weights: pos feeds c2, c1 and the per-doc sum
    from beats_spark.scale import truncate_lineage

    pos = truncate_lineage(pos)
    c2 = (
        pos.filter("_t").groupBy("_b2").agg(F.count("*").alias("_c2"))
    )
    c1 = (
        pos.filter("_t").groupBy("_b1").agg(F.count("*").alias("_c1"))
    )
    nll = F.round(
        F.lit(-_DSIR_SCALE)
        * (
            F.log(F.coalesce(F.col("_c2"), F.lit(0)) + 1)
            - F.log(F.coalesce(F.col("_c1"), F.lit(0)) + B)
        )
    ).cast("long")
    per_doc = (
        pos.join(F.broadcast(c2), "_b2", "left")
        .join(F.broadcast(c1), "_b1", "left")
        .groupBy("_id")
        .agg(
            F.sum(nll).alias("nll_sum"),
            F.count("*").alias("n_bigrams"),
        )
    )
    return (
        df.select(F.col("doc_id").alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias("doc_id"),
            F.coalesce("nll_sum", F.lit(0)).alias("nll_sum"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) > 0,
                F.floor(
                    F.col("nll_sum") / (F.col("n_bigrams") * F.lit(1000.0))
                ).cast("long"),
            ).otherwise(F.lit(0)).alias("nll_per_pos_milli"),
        )
    )


def lm_nll_sql(target_pred: str) -> str:
    """DuckDB CTE chain computing identical integer NLL scores, ending in
    a relation `lm_nll(doc_id, nll_sum, n_bigrams, nll_per_pos_milli)`."""
    B = _DSIR_BUCKETS
    S = _DSIR_SCALE
    return f"""
lm_toks AS (
  SELECT doc_id AS _id, ({target_pred}) AS _t,
         {tokens_sql('text')} AS t
  FROM documents
),
lm_pos AS (
  SELECT _id, _t,
         ('0x' || substr(md5(t[g.i]), 1, 3))::BIGINT AS _b1,
         ('0x' || substr(md5(t[g.i] || ' ' || t[g.i + 1]), 1, 3))::BIGINT AS _b2
  FROM lm_toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
),
lm_c2 AS (SELECT _b2, count(*) AS _c2 FROM lm_pos WHERE _t GROUP BY 1),
lm_c1 AS (SELECT _b1, count(*) AS _c1 FROM lm_pos WHERE _t GROUP BY 1),
lm_doc AS (
  SELECT p._id,
         CAST(sum(CAST(round(-{S} * (ln(coalesce(c2._c2, 0) + 1)
                                     - ln(coalesce(c1._c1, 0) + {B})))
                       AS BIGINT)) AS BIGINT) AS nll_sum,
         count(*) AS n_bigrams
  FROM lm_pos p
  LEFT JOIN lm_c2 c2 USING (_b2)
  LEFT JOIN lm_c1 c1 USING (_b1)
  GROUP BY 1
),
lm_nll AS (
  SELECT t.doc_id AS doc_id,
         coalesce(d.nll_sum, 0) AS nll_sum,
         coalesce(d.n_bigrams, 0) AS n_bigrams,
         CASE WHEN coalesce(d.n_bigrams, 0) > 0
              THEN CAST(floor(d.nll_sum / (d.n_bigrams * 1000.0)) AS BIGINT)
              ELSE 0 END AS nll_per_pos_milli
  FROM (SELECT doc_id FROM documents) t
  LEFT JOIN lm_doc d ON t.doc_id = d._id
)
""".strip()


# --------------------------------------------------------------------------
# temperature-scaled domain mixing (XLM-R §3.1 / mBERT exponential smoothing)
# --------------------------------------------------------------------------

_MIX_HEX_SPACE = 16 ** 8
_MIX_Q = 1000  # sqrt(n) quantized to milli-precision before the ratio


def _mix_thresholds(counts: list[tuple[str, int]], budget: int
                    ) -> list[tuple[str, int, str, bool]]:
    """Per-group (group, n_docs, threshold_hex, keep_all) for α=0.5
    temperature mixing, in EXACT integer arithmetic: q_g = floor(1e3 *
    sqrt(n_g)) (IEEE sqrt is correctly rounded, so Python and DuckDB agree
    bit-for-bit), S = Σ q_g (integer), and the md5-prefix threshold is
    floor(16^8 * budget * q_g / (S * n_g)) via integer floor-division —
    no float ever crosses an engine boundary."""
    import math

    qs = {g: math.floor(_MIX_Q * math.sqrt(n)) for g, n in counts}
    s = sum(qs.values())
    out = []
    for g, n in counts:
        t = (_MIX_HEX_SPACE * budget * qs[g]) // (s * n) if s and n else 0
        keep_all = t >= _MIX_HEX_SPACE
        out.append((g, n, format(min(t, _MIX_HEX_SPACE - 1), "08x"),
                    keep_all))
    return out


_MIX_SALT = "mix"


def temperature_mix(df: DataFrame, budget: int) -> DataFrame:
    """Temperature-scaled domain mixing at α = 0.5: sampling rates are
    DERIVED from corpus counts (p_g ∝ sqrt(n_g), the exponential-smoothing
    rebalance used for multilingual/domain mixes), unlike stratified_sample
    where the caller supplies them. Each doc keeps iff md5(id:salt)'s
    8-hex prefix falls under its group threshold, so the sample is
    deterministic, repartition-stable, and grows monotonically with
    `budget`. Rows with a NULL group are dropped (document and pre-coalesce
    upstream if they must participate).

    Scale shape: ONE corpus-scale groupBy count (map-side combine), a
    ≤|groups|-row collect (same tiny-driver-state class as the CC
    convergence check — group cardinality is languages/sources, not docs),
    thresholds rebuilt with exact integer arithmetic, and the decision is
    a broadcast join + one md5 per row, map-only. Returns the input plus
    ``mix_kept``. α = 0.5 is the oracle-exact configuration (IEEE sqrt is
    correctly rounded; general pow is not)."""
    base = df.where(F.col("lang").isNotNull())
    counts = [
        (r["_g"], r["_n"])
        for r in base.groupBy(F.col("lang").alias("_g"))
        .agg(F.count("*").alias("_n")).collect()
    ]
    spark = df.sparkSession
    rates = spark.createDataFrame(
        _mix_thresholds(sorted(counts), budget),
        "lang string, _n_docs long, _t_hex string, _keep_all boolean",
    )
    dec = _decision_hex(_MIX_SALT)
    return (
        base.join(F.broadcast(rates.drop("_n_docs")), "lang")
        .withColumn("mix_kept", F.col("_keep_all") | (dec < F.col("_t_hex")))
        .drop("_t_hex", "_keep_all")
    )


def temperature_mix_sql(budget: int) -> str:
    """DuckDB twin — identical integer threshold arithmetic (HUGEINT
    products, // floor division, printf hex render)."""
    return f"""
WITH base AS (
  SELECT * FROM documents WHERE lang IS NOT NULL
),
counts AS (
  SELECT lang AS g, count(*) AS n FROM base GROUP BY 1
),
qs AS (
  SELECT g, n, CAST(floor({_MIX_Q} * sqrt(n)) AS BIGINT) AS q FROM counts
),
thresholds AS (
  SELECT g, n,
         (CAST({_MIX_HEX_SPACE} AS HUGEINT) * {budget} * q)
           // (CAST((SELECT sum(q) FROM qs) AS HUGEINT) * n) AS t
  FROM qs
),
dec AS (
  SELECT b.*,
         t.t >= {_MIX_HEX_SPACE} OR
         {_decision_hex_sql(_MIX_SALT)} <
           printf('%08x', CAST(least(t.t, {_MIX_HEX_SPACE - 1}) AS BIGINT))
           AS mix_kept
  FROM base b JOIN thresholds t ON b.lang = t.g
)
SELECT * FROM dec
""".strip()


def _split_thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """(split_name, exclusive upper 8-hex threshold) in declaration order,
    cumulative over the 16^8 decision space with exact integer floor
    arithmetic — the last split's threshold is forced to the space top so
    the partition is total regardless of float weight normalization."""
    names = list(weights)
    bad = {n: w for n, w in weights.items() if not (math.isfinite(w) and w >= 0)}
    if bad:
        # a negative weight would render a '-'-prefixed threshold and
        # silently empty its split
        raise ValueError(f"hash_split weights must be finite and >= 0: {bad}")
    total = float(sum(weights.values()))
    if total <= 0 or int(round(total * 10**9)) == 0:
        # the second clause rejects positive-but-sub-nano totals that
        # would floor to a zero divisor in the integer arithmetic below
        raise ValueError("hash_split weights must sum to a positive value")
    cum = 0.0
    out: list[tuple[str, str]] = []
    for i, name in enumerate(names):
        cum += weights[name]
        t = _HEX_SPACE if i == len(names) - 1 else int(
            (_HEX_SPACE * int(round(cum * 10**9))) // (int(round(total * 10**9)))
        )
        out.append((name, format(min(t, _HEX_SPACE), "09x")))
    return out


_SPLIT_SALT = "split"
_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def hash_split(
    df: DataFrame, weights: dict[str, float] = _SPLIT_WEIGHTS
) -> DataFrame:
    """Deterministic train/val/test assignment: each row lands in the first
    split whose cumulative md5-threshold exceeds md5(id:salt)'s 8-hex
    prefix. The standard holdout construction for training corpora — the
    assignment is a pure function of (id, salt), so it is repartition-
    stable, rerun-stable, and immune to input ordering; growing the corpus
    never moves an existing row between splits (unlike randomSplit, whose
    assignment depends on partitioning and seed plumbing).

    Scale shape: map-only — one md5 and a constant CASE chain per row, no
    join, no shuffle, whole-stage codegen. Thresholds are computed on the
    driver with exact integer arithmetic shared verbatim with the SQL twin.

    Reference parity note: no analogue in mjwolf/beats (training-data
    mandate); construction mirrors the hash-bucket holdout idiom used in
    large-corpus pipelines (e.g. C4's URL-hash splits).
    """
    dec = _decision_hex(_SPLIT_SALT)
    expr: Column | None = None
    for name, t_hex in reversed(_split_thresholds(weights)):
        expr = (
            F.lit(name) if expr is None
            # dec is 8 hex chars, thresholds 9 — zero-padded so the string
            # comparison stays monotone across the 16^8 top boundary
            else F.when(F.concat(F.lit("0"), dec) < F.lit(t_hex),
                        F.lit(name)).otherwise(expr)
        )
    return df.withColumn("split", expr)


def hash_split_sql(weights: dict[str, float] = _SPLIT_WEIGHTS) -> str:
    """DuckDB twin of hash_split's CASE chain — same thresholds, same
    zero-padded 9-hex comparison."""
    dec = _decision_hex_sql(_SPLIT_SALT)
    ths = _split_thresholds(weights)
    if len(ths) == 1:
        # a branchless CASE is a parser error in DuckDB
        return f"'{ths[0][0]}'"
    branches = " ".join(
        f"WHEN '0' || {dec} < '{t}' THEN '{n}'" for n, t in ths[:-1]
    )
    return f"CASE {branches} ELSE '{ths[-1][0]}' END"
