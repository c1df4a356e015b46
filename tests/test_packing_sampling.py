"""Deterministic sampling + sequence packing: invariants and oracle
replays."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from beats_spark import packing as P
from beats_spark import sampling as S


def test_deterministic_sample_stability_and_rate(spark):
    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    a = S.deterministic_sample(df, 0.25, salt="s1")
    b = S.deterministic_sample(df.repartition(13), 0.25, salt="s1")
    ka = {r["doc_id"] for r in a.where("sampled").collect()}
    kb = {r["doc_id"] for r in b.where("sampled").collect()}
    assert ka == kb  # partitioning-independent
    assert 0.2 < len(ka) / 4000 < 0.3  # close to the nominal rate
    # independent salts give a (near-)independent sample
    kc = {
        r["doc_id"]
        for r in S.deterministic_sample(df, 0.25, salt="s2")
        .where("sampled").collect()
    }
    assert kc != ka
    overlap = len(ka & kc) / 4000
    assert 0.02 < overlap < 0.13  # ~rate^2 = 0.0625 expected


def test_deterministic_sample_edge_rates(spark):
    df = spark.range(50).withColumnRenamed("id", "doc_id")
    assert S.deterministic_sample(df, 1.0).where("sampled").count() == 50
    assert S.deterministic_sample(df, 0.0).where("sampled").count() == 0


def test_stratified_sample_matches_duckdb(spark):
    rates = {"web": 0.5, "code": 1.0, "forum": 0.1}
    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("web"), F.lit("code"), F.lit("forum"), F.lit("other")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("source"),
    )
    got = (
        S.stratified_sample(df, rates, salt="mix", default_rate=0.9)
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.count(F.when(F.col("sampled"), 1)).alias("k"))
        .collect()
    )
    con = duckdb.connect()
    rule = S.stratified_sample_sql(rates, salt="mix", default_rate=0.9)
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT source, count(*), count(CASE WHEN " + rule + " THEN 1 END) "
            "FROM (SELECT range AS doc_id, ['web','code','forum','other']"
            "[(range % 4) + 1] AS source FROM range(3000)) GROUP BY 1"
        ).fetchall()
    }
    assert {r["source"]: (r["n"], r["k"]) for r in got} == want
    # per-stratum rates actually bite
    by = {r["source"]: r["k"] / r["n"] for r in got}
    assert by["code"] == 1.0 and by["forum"] < 0.2 and 0.4 < by["web"] < 0.6


def test_pack_sequences_invariants(spark):
    cap = 100
    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tokens")
    )
    packed = P.pack_sequences(df, cap, bucket_chars=1)
    rows = packed.collect()
    assert len(rows) == 500  # every doc packed exactly once
    fills = {}
    for r in rows:
        fills.setdefault(r["seq_id"], 0)
        fills[r["seq_id"]] += r["packed_tokens"]
    assert all(f <= cap for f in fills.values())
    # next-fit within a bucket never leaves two consecutive bins both
    # under half-full... weaker + always true: bins per bucket are dense 0..n
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], set()).add(r["bin"])
    for bins in by_bucket.values():
        assert bins == set(range(len(bins)))
    assert len({r["doc_id"] for r in rows}) == len(rows) == 500


def test_pack_sequences_long_docs(spark):
    df = spark.createDataFrame(
        [(1, 250), (2, 40), (3, 999)], "doc_id long, n_tokens long"
    )
    trunc = {r["doc_id"]: r for r in P.pack_sequences(df, 100).collect()}
    assert trunc[1]["packed_tokens"] == 100 and trunc[3]["packed_tokens"] == 100
    dropped = P.pack_sequences(df, 100, long_doc="drop").collect()
    assert {r["doc_id"] for r in dropped} == {2}
    with pytest.raises(ValueError):
        P.pack_sequences(df, 100, long_doc="explode")


def test_pack_sequences_matches_recursive_cte(spark):
    cap = 128
    df = spark.range(800).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 31 + 7, F.lit(200)) + 1).alias("n_tokens"),
    )
    got = {
        r["doc_id"]: (r["bucket"], r["packed_tokens"], r["bin"], r["seq_id"])
        for r in P.pack_sequences(df, cap, bucket_chars=1).select(
            "doc_id", "bucket", "packed_tokens", "bin", "seq_id"
        ).collect()
    }
    con = duckdb.connect()
    sql = P.packing_oracle_sql(
        "SELECT range AS doc_id, ((range * 31 + 7) % 200) + 1 AS n_tokens "
        "FROM range(800)",
        cap, bucket_chars=1,
    )
    want = {r[0]: (r[1], r[2], r[3], r[4]) for r in con.execute(sql).fetchall()}
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    tokens=st.lists(st.integers(min_value=1, max_value=300), min_size=1,
                    max_size=60),
    cap=st.integers(min_value=50, max_value=200),
)
def test_pack_sequences_property(spark, tokens, cap):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    rows = P.pack_sequences(df, cap, bucket_chars=1).collect()
    assert len(rows) == len(tokens)
    fills = {}
    for r in rows:
        assert 1 <= r["packed_tokens"] <= cap
        fills[r["seq_id"]] = fills.get(r["seq_id"], 0) + r["packed_tokens"]
    assert all(f <= cap for f in fills.values())


def test_chunk_documents_reconstruction(spark):
    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "short doc here")],
                               "doc_id long, text string")
    rows = sorted(
        P.chunk_documents(df, max_tokens=40, overlap=10).collect(),
        key=lambda r: (r["doc_id"], r["chunk_idx"]),
    )
    one = [r for r in rows if r["doc_id"] == 1]
    # ceil((100-10)/30) = 3 chunks
    assert [r["chunk_idx"] for r in one] == [0, 1, 2]
    assert all(r["n_chunk_tokens"] <= 40 for r in one)
    # dropping the overlap prefix of every later chunk reconstructs the doc
    toks = one[0]["chunk_text"].split()
    for r in one[1:]:
        ctoks = r["chunk_text"].split()
        assert ctoks[:10] == toks[-10:]  # the repeated context
        toks += ctoks[10:]
    assert toks == text.split()
    # a doc under the budget is exactly one whitespace-normalized chunk
    two = [r for r in rows if r["doc_id"] == 2]
    assert len(two) == 1 and two[0]["chunk_text"] == "short doc here"
    assert two[0]["chunk_idx"] == 0


def test_chunk_documents_validates_overlap(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        P.chunk_documents(df, max_tokens=10, overlap=10)


def test_chunk_then_pack_never_truncates(spark):
    cap = 32
    text = " ".join(f"t{i}" for i in range(300))
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    chunks = P.chunk_documents(df, max_tokens=cap).select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("n_chunk_tokens").alias("n_tokens"),
    )
    packed = P.pack_sequences(chunks, cap, bucket_chars=1).collect()
    # composition contract: no chunk exceeds capacity, so truncate mode
    # packs every token
    assert all(r["packed_tokens"] == r["n_tokens"] for r in packed)


def test_sample_null_ids_agree_with_duckdb(spark):
    """Null ids hash through the same sentinel on both engines — one
    well-defined decision per (salt), never a silent concat_ws skip vs a
    NULL-propagating `||`."""
    df = spark.createDataFrame(
        [(None, "a"), (1, "a"), (None, "b")], "doc_id long, source string"
    )
    got = sorted(
        ((r.doc_id, r.source, r.sampled) for r in
         S.deterministic_sample(df, 0.5, salt="s7").collect()),
        key=str,
    )
    con = duckdb.connect()
    con.sql("CREATE TABLE t(doc_id BIGINT, source VARCHAR)")
    con.sql("INSERT INTO t VALUES (NULL,'a'),(1,'a'),(NULL,'b')")
    hexv = S._decision_hex_sql("s7")
    thr = S._hex_threshold(0.5)
    want = sorted(
        con.sql(f"SELECT doc_id, source, {hexv} < '{thr}' FROM t").fetchall(),
        key=str,
    )
    assert got == [tuple(w) for w in want]
    # null ids share one decision (same hash input), not a NULL keep flag
    nulls = {g[2] for g in got if g[0] is None}
    assert len(nulls) == 1 and None not in nulls


def test_pack_sequences_string_ids(spark):
    """id_col type flows through the applyInPandas schema — string ids
    pack without miscast (was hardcoded LongType)."""
    df = spark.createDataFrame(
        [("d1", 30), ("d2", 40), ("d3", 50), ("d4", 20)],
        "doc_id string, n_tokens long",
    )
    out = P.pack_sequences(df, capacity=64).collect()
    assert {r.doc_id for r in out} == {"d1", "d2", "d3", "d4"}
    assert all(isinstance(r.doc_id, str) and r.seq_id for r in out)


# -- DSIR importance selection -------------------------------------------------


@pytest.fixture(scope="module")
def dsir_docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_dsir_weights_enrich_the_target_language(spark, dsir_docs):
    """Docs from the target slice (en) must weigh higher on average — the
    whole point of importance reweighting."""
    w = S.dsir_weights(dsir_docs, F.col("lang") == "en")
    avg = (
        w.join(dsir_docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang") == "en")
        .agg(F.avg("dsir_weight").alias("a"))
        .collect()
    )
    by = {r[0]: r["a"] for r in avg}
    assert by[True] > by[False]


def test_dsir_weights_partitioning_independent(spark, dsir_docs):
    w1 = S.dsir_weights(dsir_docs, F.col("lang") == "en").collect()
    w2 = S.dsir_weights(
        dsir_docs.repartition(17), F.col("lang") == "en"
    ).collect()
    assert sorted(map(tuple, w1)) == sorted(map(tuple, w2))


def test_dsir_short_docs_weigh_zero(spark):
    df = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, None), (4, "two tokens")],
        ["doc_id", "text"],
    )
    w = {r["doc_id"]: r["dsir_weight"]
         for r in S.dsir_weights(df, F.lit(False)).collect()}
    assert w[1] == 0 and w[2] == 0 and w[3] == 0
    assert w[4] != 0  # one bigram → one nonzero ratio


def test_dsir_gumbel_topk_deterministic_and_exact_mode(spark, dsir_docs):
    w = S.dsir_weights(dsir_docs, F.col("lang") == "en")
    # temperature=0 is pure argmax: exactly the highest-weight ids
    exact = [r["doc_id"] for r in S.gumbel_topk(w, 20, temperature=0.0).collect()]
    ref = [r["doc_id"] for r in
           w.orderBy(F.col("dsir_weight").desc(), "doc_id").limit(20).collect()]
    assert exact == ref
    # gumbel mode: deterministic under repartitioning, different salts differ
    a = {r["doc_id"] for r in S.gumbel_topk(w, 20, salt="g1").collect()}
    b = {r["doc_id"] for r in
         S.gumbel_topk(w.repartition(7), 20, salt="g1").collect()}
    c = {r["doc_id"] for r in S.gumbel_topk(w, 20, salt="g2").collect()}
    assert a == b
    assert a != c


def test_dsir_plan_is_scale_shaped(spark, dsir_docs):
    """No Python UDF anywhere; top-k is TakeOrderedAndProject (bounded
    per-partition heaps), never a global Sort; the exploded exchange
    carries bare ids/buckets, not text."""
    w = S.dsir_weights(dsir_docs, F.col("lang") == "en")
    plan = S.gumbel_topk(w, 50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


# -- exact-count quota sampling --------------------------------------------


def test_stratified_topn_exact_counts_and_stability(spark, dsir_docs):
    out = S.stratified_topn(dsir_docs, 7, salt="q1")
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    per_stratum = {r["source"]: r["n"] for r in
                   dsir_docs.groupBy("source")
                   .agg(F.count("*").alias("n")).collect()}
    assert counts == {s: min(7, n) for s, n in per_stratum.items()}
    # identical pick under repartitioning
    again = S.stratified_topn(dsir_docs.repartition(9), 7, salt="q1")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # different salt → different (independent) pick
    other = S.stratified_topn(dsir_docs, 7, salt="q2")
    assert {r["doc_id"] for r in out.collect()} != {
        r["doc_id"] for r in other.collect()
    }


def test_stratified_topn_stable_under_corpus_growth(spark):
    """A kept doc is displaced only by a new doc hashing below it — the
    sample of the grown corpus overlaps heavily with the original (unlike
    df.sample, which reshuffles everything)."""
    base = spark.createDataFrame(
        [(i, "s") for i in range(100)], ["doc_id", "source"]
    )
    grown = spark.createDataFrame(
        [(i, "s") for i in range(110)], ["doc_id", "source"]
    )
    a = {r["doc_id"] for r in S.stratified_topn(base, 20).collect()}
    b = {r["doc_id"] for r in S.stratified_topn(grown, 20).collect()}
    assert len(a & b) >= 15  # 10% growth can displace at most a few
    assert len(a) == len(b) == 20


# -- CCNet-style perplexity scoring ------------------------------------------


def test_lm_nll_target_docs_score_lower(spark, dsir_docs):
    """Target-slice (en) docs must have lower mean NLL under the LM
    trained on that slice — the CCNet head property."""
    s = S.lm_nll_scores(dsir_docs, F.col("lang") == "en")
    avg = (
        s.filter(F.col("n_bigrams") > 0)
        .join(dsir_docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang") == "en")
        .agg(F.avg("nll_per_pos_milli").alias("a"))
        .collect()
    )
    by = {r[0]: r["a"] for r in avg}
    assert by[True] < by[False]


def test_lm_nll_partitioning_independent_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta alpha beta"), (2, "alpha"), (3, None),
         (4, "beta gamma")],
        ["doc_id", "text"],
    )
    a = S.lm_nll_scores(df, F.lit(True)).collect()
    b = S.lm_nll_scores(df.repartition(5), F.lit(True)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    rows = {r["doc_id"]: r for r in a}
    assert rows[2]["n_bigrams"] == 0 and rows[2]["nll_sum"] == 0
    assert rows[3]["n_bigrams"] == 0
    assert rows[1]["n_bigrams"] == 3
    # the seen bigram is cheaper per position than the unseen-heavy doc
    assert rows[1]["nll_per_pos_milli"] < rows[4]["nll_per_pos_milli"]


def test_lm_nll_plan_is_scale_shaped(spark, dsir_docs):
    plan = (
        S.lm_nll_scores(dsir_docs, F.col("lang") == "en")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


# --------------------------------------------------------------------------
# temperature-scaled domain mixing
# --------------------------------------------------------------------------


def test_temperature_mix_rebalances_toward_small_groups(spark):
    from beats_spark.sampling import temperature_mix

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = (
        temperature_mix(df, budget=200)
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum(F.col("mix_kept").cast("int"))
             .alias("kept"))
        .collect()
    )
    by = {r["lang"]: r for r in got}
    # α=0.5: keep rates ∝ 1/sqrt(n). small (100 docs) must be sampled at
    # ~3x the rate of big (900 docs): sqrt(900)/sqrt(100) = 3
    rate_big = by["big"]["kept"] / by["big"]["n"]
    rate_small = by["small"]["kept"] / by["small"]["n"]
    assert rate_small > 2.0 * rate_big
    # total lands near the budget (hash-threshold binomial noise only)
    total = by["big"]["kept"] + by["small"]["kept"]
    assert 150 <= total <= 250


def test_temperature_mix_monotone_in_budget_and_partition_stable(spark):
    from beats_spark.sampling import temperature_mix

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    def kept(budget, parts):
        return {
            r["doc_id"]
            for r in temperature_mix(df.repartition(parts), budget=budget)
            .where("mix_kept").collect()
        }

    k60, k120 = kept(60, 4), kept(120, 4)
    assert k60 <= k120          # budget growth only adds docs
    assert kept(60, 1) == k60   # partitioning never changes the decision


def test_temperature_mix_null_group_dropped_keep_all_cap(spark):
    from beats_spark.sampling import temperature_mix

    rows = [(0, None)] + [(i, "en") for i in range(1, 10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = temperature_mix(df, budget=1000).collect()
    # null-group row dropped; budget >> corpus -> rate capped, all kept
    assert len(got) == 9 and all(r["mix_kept"] for r in got)


@settings(max_examples=80, deadline=None)
@given(
    st.lists(st.tuples(st.text("abcdef", min_size=1, max_size=4),
                       st.integers(min_value=1, max_value=10_000)),
             min_size=1, max_size=8, unique_by=lambda t: t[0]),
    st.integers(min_value=0, max_value=50_000),
)
def test_mix_threshold_math_invariants(counts, budget):
    # pure-Python check of the exact integer threshold arithmetic
    from beats_spark.sampling import _MIX_HEX_SPACE, _mix_thresholds

    out = _mix_thresholds(sorted(counts), budget)
    assert len(out) == len(counts)
    import math
    qs = {g: math.floor(1000 * math.sqrt(n)) for g, n in counts}
    s = sum(qs.values())
    for (g, n, t_hex, keep_all), (g0, n0) in zip(out, sorted(counts)):
        assert (g, n) == (g0, n0)
        t = int(t_hex, 16)
        assert 0 <= t < _MIX_HEX_SPACE
        exact_rate = budget * qs[g] / (s * n)
        # keep_all exactly when the un-capped integer threshold says
        # rate >= 1 (floor semantics)
        assert keep_all == ((_MIX_HEX_SPACE * budget * qs[g]) // (s * n)
                            >= _MIX_HEX_SPACE)
        if not keep_all:
            # the hex threshold is the floor of the exact rate in 1/2^32
            # units — never above it, within 1 ulp below
            assert t <= exact_rate * _MIX_HEX_SPACE < t + n * s + 1
