"""Training-data ops: dedup (exact/minhash/simhash/ngram), ANN similarity,
text analysis. Uses the documents/embeddings testdata tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import beats_spark.dedup as D
import beats_spark.similarity as S
import beats_spark.textops as X

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()


# -- dedup -------------------------------------------------------------------


def test_exact_dedup_finds_planted_dups(spark, docs):
    # plant exact + whitespace-variant duplicates
    extra = docs.limit(3).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" ")).alias("text"),
        "lang", "source", "n_chars",
    )
    with_dups = docs.unionByName(extra)
    out = D.exact_dedup(with_dups)
    assert out.count() == docs.count()  # variants collapse onto originals
    assert out.filter(F.col("dup_count") == 2).count() == 3
    # representative is the lower id
    assert out.agg(F.max("keep_id")).first()[0] < 100000


def test_minhash_lsh_near_dups(spark, docs):
    # planted near-duplicate: append a few tokens to an existing doc
    near = docs.limit(5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" tail tweak")).alias("text"),
        "lang", "source", "n_chars",
    )
    with_dups = docs.unionByName(near)
    pairs = D.minhash_lsh_pairs(with_dups, threshold=0.7)
    found = {
        (r.id_a, r.id_b) for r in pairs.collect()
    }
    planted = {(i, i + 200000) for i in range(5)}
    assert planted <= found  # all planted near-dups recovered
    dedup = D.minhash_dedup(with_dups, threshold=0.7)
    kept = {r.doc_id for r in dedup.select("doc_id").collect()}
    assert not (kept & {i + 200000 for i in range(5)})  # copies dropped
    assert set(range(5)) <= kept  # originals kept


def test_simhash_deterministic_and_near(spark, docs):
    a = D.simhash(docs).select("doc_id", "simhash")
    b = D.simhash(docs).select("doc_id", "simhash")
    assert a.exceptAll(b).count() == 0
    near = docs.limit(3).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat("text", F.lit(" x")).alias("text"),
        "lang", "source", "n_chars",
    )
    pairs = D.simhash_near_pairs(docs.unionByName(near), max_hamming=6)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 300000) for i in range(3)} <= found


def test_ngram_jaccard_pairs(spark, docs):
    near = docs.limit(3).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
        "lang", "source", "n_chars",
    )
    pairs = D.ngram_jaccard_pairs(docs.unionByName(near), threshold=0.8)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 400000) for i in range(3)} <= found


# -- similarity --------------------------------------------------------------


def test_cosine_topk_shape_and_selfsim(spark, embs):
    q = embs.filter(F.col("vec_id") < 3)
    out = S.cosine_topk(embs, q, k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
        assert -1.0001 <= r.score <= 1.0001
    for rs in by_q.values():
        ranks = sorted(r.rank for r in rs)
        assert ranks == [1, 2, 3, 4, 5]
        scores = [r.score for r in sorted(rs, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)


def test_cosine_topk_finds_planted_twin(spark, embs):
    # a vector's near-copy must be its top-1 neighbor
    twin = embs.filter(F.col("vec_id") == 0).select(
        F.lit(990001).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
        "label",
    )
    out = S.cosine_topk(embs.unionByName(twin), embs.filter(F.col("vec_id") == 0), k=1)
    row = out.first()
    assert row.neighbor_id == 990001
    assert row.score > 0.9999


def test_ivf_recall_vs_brute_force(spark, embs):
    q = embs.filter(F.col("vec_id") < 10)
    brute = S.cosine_topk(embs, q, k=5)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    ivf = S.ivf_topk(embs, q, k=5, n_cells=8, n_probe=4)
    i = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(b & i) / len(b)
    assert recall >= 0.5  # probing half the cells of random data
    # Lloyd-refined centroids (fully distributed) must not lose recall
    ivf2 = S.ivf_topk(embs, q, k=5, n_cells=8, n_probe=4, kmeans_iters=2)
    i2 = {(r.query_id, r.neighbor_id) for r in ivf2.collect()}
    assert len(b & i2) / len(b) >= 0.5
    for r in ivf2.limit(50).collect():
        assert -1.001 <= r.score <= 1.001


def test_lsh_returns_ranked_candidates(spark, embs):
    q = embs.filter(F.col("vec_id") < 5)
    out = S.lsh_topk(embs, q, k=5, n_planes=6, n_tables=8).collect()
    assert len(out) > 0
    for r in out:
        assert r.neighbor_id != r.query_id


def test_lsh_incomplete_plane_slice_raises(spark, embs):
    # ids 0-59: none in the default plane slice [100, 116)
    few = embs.filter(F.col("vec_id") < 60)
    with pytest.raises(ValueError, match=r"\[100, 116\); only 0 of 16"):
        S.lsh_topk(few, few.limit(2), k=3)


# -- textops -----------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world foo",), ("one",), ("",), ("a b,c 42!",)], "text string"
    )
    out = {r.text: r.n_tokens for r in X.token_count(df).collect()}
    assert out["hello world foo"] == 3
    assert out["one"] == 1
    assert out[""] == 0
    bpe = {r.text: r.n_bpe_tokens for r in X.bpe_token_count(df).collect()}
    assert bpe["a b,c 42!"] == 6  # a b , c 42 !


def test_quality_features_bounds(spark, docs):
    out = X.quality_features(docs)
    row = out.agg(
        F.min("quality_score"), F.max("quality_score"), F.min("punct_ratio")
    ).first()
    assert 0.0 <= row[0] <= row[1] <= 1.0
    assert row[2] >= 0.0


def test_lang_id_deterministic(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house with a dog",),
            ("der hund ist nicht das problem und die katze",),
            ("el perro es un animal y la casa es grande",),
            ("xyzzy plugh",),
        ],
        "text string",
    )
    preds = [r.pred_lang for r in X.lang_id(df).collect()]
    assert preds == ["en", "de", "es", "und"]


def test_doc_fingerprint_stability(spark, docs):
    fp1 = X.doc_fingerprint(docs).select("doc_id", "doc_fp")
    fp2 = X.doc_fingerprint(docs).select("doc_id", "doc_fp")
    assert fp1.exceptAll(fp2).count() == 0
    assert fp1.filter(F.col("doc_fp").isNull()).count() == 0


def test_decontaminate(spark):
    from beats_spark.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon zeta"),   # shares 5-gram run
            (3, "totally different words here now"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100, "prefix alpha beta gamma delta epsilon suffix")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.contaminated
           for r in decontaminate(docs, probe, n=5).collect()}
    # doc1: its single whole-doc 5-gram appears verbatim in the probe run
    assert out[1] is True
    # doc2: 5-grams at offsets 1 and 2 both appear in the probe
    assert out[2] is True
    assert out[3] is False
    assert out[4] is False  # null text never flags


def test_decontaminate_short_doc_symmetry(spark):
    from beats_spark.dedup import decontaminate

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny dog")], "doc_id long, text string")
    probe = spark.createDataFrame(
        [(9, "tiny doc")], "doc_id long, text string")
    out = {r.doc_id: r.contaminated
           for r in decontaminate(docs, probe, n=13).collect()}
    # both sides shorter than n: whole-token-run grams compare directly
    assert out[1] is True and out[2] is False


def test_repetition_features(spark):
    from beats_spark.textops import repetition_features

    docs = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),          # 3 lines, 1 dup
            (2, "x y z"),                  # no dups
            (3, "go go go go"),            # top 2-gram 'go go' 3x
            (4, ""),                       # empty
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_features(docs).collect()}
    assert abs(rows[1].dup_line_frac - 1 / 3) < 1e-9
    # chars: lines 'a b','a b','c d' → total 9, distinct 6 → 1/3
    assert abs(rows[1].dup_line_char_frac - 1 / 3) < 1e-9
    assert rows[2].dup_line_frac == 0.0
    # 'go go' occurs 3 times, len 5, text len 11 → 15/11 capped? no cap —
    # overlapping occurrences can exceed 1 by construction; pin exact value
    assert abs(rows[3].top_ngram_char_frac - 15 / 11) < 1e-9
    assert rows[4].dup_line_frac == 0.0
    assert rows[5].top_ngram_char_frac == 0.0


def test_gopher_filter(spark):
    from beats_spark.textops import gopher_filter

    good = ("the cat and the dog sat in a house with many other fine words "
            "that keep on going for a while so the token count is high "
            "enough to pass the minimum word threshold easily in this test")
    docs = spark.createDataFrame(
        [
            (1, good),                      # passes everything
            (2, "short text"),              # too few words
            (3, "go " * 60),                # repeated 2-gram + no stopwords
            (4, "!!! ??? *** " * 30),       # punct heavy, no stopwords
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r
            for r in gopher_filter(docs, min_words=30).collect()}
    assert rows[1].keep and rows[1].drop_reasons == []
    assert "too_few_words" in rows[2].drop_reasons  # 2 < 30
    assert "repeated_ngram" in rows[3].drop_reasons
    assert not rows[3].keep
    assert "punct_heavy" in rows[4].drop_reasons
    assert "too_few_stopwords" in rows[4].drop_reasons


def test_pii_redact(spark):
    rows = [
        (0, "mail bob.smith+x@mail-example.co.uk and 415-555-2671 end"),
        (1, "ssn 123-45-6789 then ip 10.0.12.7 here"),
        (2, "clean text with nothing sensitive at all"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.pii_redact(df).collect()}
    assert got[0]["n_email"] == 1 and got[0]["n_phone"] == 1
    assert got[0]["redacted"] == "mail <EMAIL> and <PHONE> end"
    assert got[1]["n_ssn"] == 1 and got[1]["n_ipv4"] == 1
    assert got[1]["redacted"] == "ssn <SSN> then ip <IPV4> here"
    # ordered chain: the SSN is claimed by <SSN>, never re-counted as phone
    assert got[1]["n_phone"] == 0
    assert got[2]["redacted"] == rows[2][1]
    assert got[2]["n_email"] == got[2]["n_ipv4"] == 0
    assert got[3]["redacted"] is None and got[3]["n_email"] is None


def test_c4_clean(spark):
    page = "\n".join([
        "A good first line with plenty of words right here.",
        "no terminal punctuation on this line with many words",
        "Too short line.",
        "A javascript mention drops this line despite enough words.",
        "A second keeper line with plenty of words ends here!",
        "And a third keeper line with enough words survives too.",
    ])
    rows = [
        (0, page),
        (1, page + "\nlorem ipsum dolor"),            # page-level drop
        (2, page.replace("good", "braced {")),        # curly brace drop
        (3, "One keeper line with enough words ends in a period."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.c4_clean(df).collect()}
    assert got[0]["n_lines_kept"] == 3 and got[0]["keep"]
    assert got[0]["cleaned"].splitlines()[0].startswith("A good first line")
    assert got[1]["n_lines_kept"] == 3 and not got[1]["keep"]
    assert not got[2]["keep"]
    assert got[3]["n_lines_kept"] == 1 and not got[3]["keep"]  # < min_lines


def test_url_blocklist_flag(spark):
    rows = [
        (0, "see https://ads.Tracker.example/p?q=1 and http://ok.example.org/x"),
        (1, "bare http://seo-farm.example/ hit"),
        (2, "subdomainish https://nottracker.example/y is NOT blocked"),
        (3, "no urls at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.url_blocklist_flag(df).collect()}
    assert got[0]["blocked_url"] and got[0]["url_hosts"] == [
        "ads.tracker.example", "ok.example.org"]
    assert got[1]["blocked_url"]
    # suffix match is dot-anchored: nottracker.example != *.tracker.example
    assert not got[2]["blocked_url"]
    assert not got[3]["blocked_url"] and got[3]["url_hosts"] == []
    assert not got[4]["blocked_url"]


def test_span_dedup(spark):
    rows = [
        (0, "Alpha one here. Beta two here! Gamma three here? Delta four here. Epsilon five."),
        # shares the Beta-Gamma-Delta span with doc 0
        (1, "Prefix sentence. Beta two here! Gamma three here? Delta four here. Suffix sentence."),
        (2, "Short doc. Only two sentences."),
        # full duplicate of doc 0: every sentence removed
        (3, "Alpha one here. Beta two here! Gamma three here? Delta four here. Epsilon five."),
        # internal repetition: 5 identical sentences = 3 identical spans;
        # the first span (sentences 1-3) is kept, spans at 2 and 3 remove
        # sentences 2..5
        (5, "Rep. Rep. Rep. Rep. Rep."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in D.span_dedup(df).collect()}
    assert got[0]["n_removed"] == 0 and got[0]["deduped"] == rows[0][1]
    assert got[1]["n_removed"] == 3
    assert got[1]["deduped"] == "Prefix sentence. Suffix sentence."
    assert got[2]["n_removed"] == 0  # < 3 sentences: no spans, untouched
    assert got[3]["n_removed"] == 5 and got[3]["deduped"] == ""
    assert got[5]["n_removed"] == 4 and got[5]["deduped"] == "Rep."


def test_span_dedup_first_occurrence_owner(spark):
    # ownership is min (doc_id, span_idx): the lower doc_id keeps the span
    # even when it appears later inside that document
    shared = "Common one here. Common two here. Common three here."
    rows = [(7, "Lead in sentence. " + shared), (8, shared)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in D.span_dedup(df).collect()}
    assert got[7]["n_removed"] == 0
    assert got[8]["n_removed"] == 3 and got[8]["deduped"] == ""


def test_normalize_unicode(spark):
    rows = [
        (0, "Café and ﬁne"),      # decomposed é; fi ligature
        (1, "bell\x07 and null\x00 kept\ttab\nnewline"),
        (2, "plain ascii"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["norm_text"] for r in X.normalize_unicode(df).collect()}
    assert got[0] == "Café and ﬁne"  # NFC composes, ligature kept
    assert got[1] == "bell and null kept\ttab\nnewline"
    assert got[2] == "plain ascii"
    assert got[3] is None
    # NFKC additionally folds compatibility chars (ligature -> 'fi')
    nfkc = {
        r["doc_id"]: r["norm_text"]
        for r in X.normalize_unicode(df, form="NFKC").collect()
    }
    assert nfkc[0] == "Café and fine"


def test_lsh_data_planes_and_recall_row(spark, embs):
    """LSH with corpus-vector planes: pure-Column signatures, ranked
    candidates, and recall_vs_exact emits a correct single-row summary."""
    q = embs.filter(F.col("vec_id") < 5)
    approx = S.lsh_topk(embs, q, k=5, n_planes=3, n_tables=5)
    rows = approx.collect()
    assert rows and all(r.neighbor_id != r.query_id for r in rows)
    exact = S.cosine_topk(embs, q, k=5)
    rec = S.recall_vs_exact(approx, exact, k=5).first()
    assert rec.k == 5 and rec.n_queries == 5 and rec.n_exact == 25
    b = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in rows}
    assert rec.n_hit == len(a & b)
    assert abs(rec.recall - len(a & b) / 25) < 1e-9


def test_ivf_explicit_centroids(spark, embs):
    """Explicit centroid frame overrides the xxhash64 sample and keeps
    results deterministic — the oracle-reproducible seed path."""
    q = embs.filter(F.col("vec_id") < 5)
    cents = embs.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 208))
    a = S.ivf_topk(embs, q, k=5, n_cells=8, n_probe=3, centroids=cents)
    b = S.ivf_topk(embs, q, k=5, n_cells=8, n_probe=3, centroids=cents)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# -- SemDeDup ------------------------------------------------------------------


def test_semdedup_drops_planted_twin(spark):
    """Two identical vectors in the same cell: the higher id is dropped;
    everything below threshold survives."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),     # exact twin of 0 → dropped
        (2, [0.0, 1.0, 0.0]),
        (3, [0.99, 0.1, 0.0]),    # near 0 → dropped at 0.9
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = df.filter(F.col("vec_id").isin(0, 2, 4))
    out = {r["vec_id"]: r["kept"]
           for r in S.semdedup(df, threshold=0.9, centroids=cents).collect()}
    assert out == {0: True, 1: False, 2: True, 3: False, 4: True}


def test_semdedup_cross_cell_pairs_never_compared(spark):
    """Identical vectors assigned to different cells are both kept —
    SemDeDup only compares within a cluster (the paper's semantics and
    the property that makes it scale)."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (10, [1.0, 0.3]),    # nearest cell 0, cos(0,10) ≈ 0.958 < 0.99
        (11, [0.3, 1.0]),    # nearest cell 1, far from 10
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = df.filter(F.col("vec_id") < 2)
    out = S.semdedup(df, threshold=0.99, centroids=cents)
    cells = {r["vec_id"]: (r["cell_id"], r["kept"]) for r in out.collect()}
    assert cells[10][0] == 0 and cells[11][0] == 1
    assert all(kept for _, kept in cells.values())


def test_semdedup_partitioning_independent(spark, embs):
    cents = embs.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 208))
    a = S.semdedup(embs, threshold=0.4, centroids=cents).collect()
    b = S.semdedup(
        embs.repartition(13), threshold=0.4, centroids=cents
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_semdedup_plan_is_scale_shaped(spark, embs):
    """Centroids broadcast; the pair scan is a cell-keyed equi-join (never
    an unblocked cross join); no Python UDF anywhere."""
    cents = embs.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 208))
    plan = (
        S.semdedup(embs, threshold=0.4, centroids=cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or plan.count(
        "BroadcastNestedLoopJoin"
    ) == plan.count("BroadcastNestedLoopJoin Build")  # only broadcast forms


# -- BM25 ----------------------------------------------------------------------


def test_bm25_rare_term_outranks_common(spark):
    """A doc hitting the rare term must outscore a doc hitting only the
    ubiquitous term (higher idf), and tf raises the score within a term."""
    rows = [
        (1, "common common common"),
        (2, "rare common"),
        (3, "rare rare common"),
        (4, "common filler words"),
        (5, "filler filler filler"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = X.bm25_topk(df, ["rare", "common"], k=5)
    got = {r["doc_id"]: r["bm25_score"] for r in out.collect()}
    assert got[3] > got[2] > got[1]          # tf ordering on the rare term
    assert got[2] > got[1] > got[4] >= 0     # rare beats common-only
    assert 5 not in got                      # no query term → no row


def test_bm25_length_normalization(spark):
    """Same tf, longer doc → lower score (the b·dl/avgdl penalty)."""
    rows = [
        (1, "hit pad"),
        (2, "hit " + "pad " * 40),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["bm25_score"]
           for r in X.bm25_topk(df, ["hit"], k=5).collect()}
    assert got[1] > got[2] > 0


def test_bm25_partitioning_independent_and_scale_shaped(spark, docs):
    a = X.bm25_topk(docs, ["dup", "spark", "vector"], k=25)
    b = X.bm25_topk(
        docs.repartition(11), ["dup", "spark", "vector"], k=25
    )
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the exploded exchange carries bare (id, dl, term) rows — never text
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


# --------------------------------------------------------------------------
# ExactSubstr token-window dedup (Lee et al. 2021)
# --------------------------------------------------------------------------


def test_exact_substr_dedup(spark):
    rows = [
        (0, "a b c d e f g h"),
        # shares the 4-token run "c d e f" with doc 0 — but split across
        # different "sentence" punctuation, which a sentence-span pass
        # would miss
        (1, "x y. c d e f. z w"),
        (2, "too short"),
        # full duplicate of doc 0: every token removed
        (3, "a b c d e f g h"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           D.exact_substr_dedup(df, window=4).collect()}
    assert got[0]["n_removed"] == 0 and got[0]["deduped"] == rows[0][1]
    # doc 1's tokens are "x y. c d e f. z w" — the punctuation glues to
    # the tokens, so "c d e f" there is NOT the same windows as doc 0's
    assert got[1]["n_removed"] == 0
    assert got[2]["n_removed"] == 0  # < window tokens: no windows
    assert got[3]["n_removed"] == 8 and got[3]["deduped"] == ""


def test_exact_substr_dedup_straddles_sentences(spark):
    # the duplicated run crosses a sentence boundary in BOTH docs at
    # DIFFERENT positions — sentence-window dedup can't see it, the
    # token-window pass removes it from the later doc
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "intro words here. alpha beta gamma delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           D.exact_substr_dedup(df, window=3).collect()}
    assert got[0]["n_removed"] == 0
    # doc 1 keeps its unique prefix; the shared 6-token tail minus the
    # window straddling "here." stays — windows containing "here." differ
    assert got[1]["n_removed"] == 6
    assert got[1]["deduped"] == "intro words here."


def test_exact_substr_dedup_first_occurrence_and_partitions(spark):
    rows = [(i, "the same eight token run exactly here now") for i in
            range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for parts in (1, 7):
        got = {r["doc_id"]: r for r in
               D.exact_substr_dedup(df.repartition(parts), window=8)
               .collect()}
        assert got[0]["n_removed"] == 0          # min doc_id owns
        for i in range(1, 6):
            assert got[i]["n_removed"] == 8 and got[i]["deduped"] == ""


def test_exact_substr_dedup_text_never_shuffles(spark):
    df = spark.createDataFrame(
        [(i, "w%d " % i * 12) for i in range(50)],
        "doc_id long, text string",
    )
    plan = D.exact_substr_dedup(df, window=8)._jdf.queryExecution() \
        .executedPlan().toString()
    # the span-resolution exchanges carry bare (hash, id, pos) — text only
    # rides the final by-id join-back
    n_text = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "text" in line
    )
    assert n_text <= 1


# --------------------------------------------------------------------------
# reciprocal-rank fusion
# --------------------------------------------------------------------------


def test_rrf_fuse_hand_computed(spark):
    a = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank int")
    b = spark.createDataFrame(
        [(11, 1), (13, 2)], "doc_id long, rank int")
    got = {r["doc_id"]: r for r in
           X.rrf_fuse([a, b], k0=60, k=10).collect()}
    S = 1_000_000
    assert got[11]["rrf_score"] == round(S / 61) + round(S / 62)
    assert got[11]["n_systems"] == 2
    assert got[10]["rrf_score"] == round(S / 61) and got[10]["n_systems"] == 1
    assert got[13]["rrf_score"] == round(S / 62)
    # doc in both lists outranks any single-system doc at these depths
    order = [r["doc_id"] for r in
             X.rrf_fuse([a, b], k0=60, k=10).collect()]
    assert order[0] == 11


def test_rrf_fuse_tie_breaks_on_id(spark):
    a = spark.createDataFrame([(5, 1), (3, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(3, 1), (5, 2)], "doc_id long, rank int")
    order = [r["doc_id"] for r in X.rrf_fuse([a, b], k=10).collect()]
    assert order == [3, 5]  # equal fused scores -> ascending id


# --------------------------------------------------------------------------
# BPE pair stats + merge learning
# --------------------------------------------------------------------------


def _bpe_reference(word_counts: dict[str, int], n_merges: int):
    """Pure-Python Sennrich et al. BPE trainer for cross-checking."""
    vocab = {tuple(w) + ("</w>",): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        merges.append(best)
        merged = best[0] + best[1]
        nxt = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == best[0]
                        and syms[i + 1] == best[1]):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + c
        vocab = nxt
    return merges


def test_bpe_pair_stats_counts(spark):
    df = spark.createDataFrame(
        [(0, "low low low lower"), (1, "lowest low")],
        "doc_id long, text string",
    )
    got = {(r["sym_a"], r["sym_b"]): r["pair_count"]
           for r in X.bpe_pair_stats(df, top_k=100).collect()}
    # "low" x4, "lower" x1, "lowest" x1 -> (l,o) and (o,w) appear in all 6
    assert got[("l", "o")] == 6 and got[("o", "w")] == 6
    assert got[("w", "</w>")] == 4
    assert got[("w", "e")] == 2  # lower + lowest


def test_bpe_learn_merges_matches_reference(spark):
    corpus = "low low low low low lower lower newest newest newest " \
             "newest newest newest widest widest widest"
    df = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    wc: dict[str, int] = {}
    for w in corpus.split():
        wc[w] = wc.get(w, 0) + 1
    want = _bpe_reference(wc, 8)
    got = X.bpe_learn_merges(df, n_merges=8)
    assert got == want


def test_bpe_merge_overlap_is_leftmost(spark):
    # "aaaa" with pair (a,a): leftmost non-overlapping scan merges
    # positions (1,2) and (3,4) -> counts for the next round must see
    # (aa, aa), never an overlapped (a, aa) in the middle
    df = spark.createDataFrame([(0, "aaaa aaaa")], "doc_id long, text string")
    got = X.bpe_learn_merges(df, n_merges=2)
    want = _bpe_reference({"aaaa": 2}, 2)
    assert got == want


def test_winnow_guarantee_shared_substring(spark):
    from beats_spark.textops import winnow_fingerprints

    # shared run of length >= w + k - 1 = 12 + 8 - 1 = 19 chars ->
    # fingerprint sets MUST intersect (the winnowing guarantee)
    shared = "zqxjkvbwpyfghmrtlsn"          # 19 chars, unusual shingles
    rows = [
        (0, "first document " + shared + " more words"),
        (1, "completely other prefix " + shared),
        (2, "nothing in common with those two at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: set(r["winnow_fps"])
           for r in winnow_fingerprints(df).collect()}
    assert got[0] & got[1]
    assert not (got[0] & got[2] and got[1] & got[2])


def test_winnow_short_doc_and_global_min_special_case(spark):
    from beats_spark.textops import doc_fingerprint, winnow_fingerprints

    rows = [(0, "tiny"), (1, "x" * 30), (2, "the quick brown fox jumps")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in winnow_fingerprints(df).collect()}
    assert got[0]["n_fingerprints"] == 0      # < w + k - 1 chars
    assert got[1]["n_fingerprints"] == 1      # all shingles identical
    # w > number of shingles -> n_windows = size - w + 1 <= 0 -> EMPTY
    # fingerprint set (matches the docstring's "docs shorter than w+k-1
    # chars get an empty set")
    big_w = winnow_fingerprints(df, w=1000)
    assert all(r["n_fingerprints"] == 0 for r in big_w.collect())


def test_winnow_deterministic_and_edit_stable(spark):
    from beats_spark.textops import winnow_fingerprints

    base = "a long enough document body for several winnowing windows"
    df = spark.createDataFrame(
        [(0, base), (1, base + " trailing edit")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: set(r["winnow_fps"])
           for r in winnow_fingerprints(df).collect()}
    inter = got[0] & got[1]
    # a local edit leaves distant window minima untouched
    assert len(inter) >= max(1, len(got[0]) - 3)


def test_exact_substr_dedup_self_repetition_collapses(spark):
    # degenerate spam: one doc of 20 identical tokens; windows duplicate
    # WITHIN the doc — the window at position 1 owns, the duplicate
    # windows at 2..13 remove every position they cover (2..20), so only
    # the first token survives (same semantics as span_dedup's
    # internal-repetition case)
    df = spark.createDataFrame(
        [(0, " ".join(["spam"] * 20))], "doc_id long, text string"
    )
    got = D.exact_substr_dedup(df, window=8).collect()[0]
    assert got["n_tokens"] == 20
    assert got["n_removed"] == 19
    assert got["deduped"] == "spam"


def test_canonicalize_url_rules(spark):
    cases = [
        # (input, expected canonical)
        ("https://Example.COM:443/path?b=2&a=1#frag",
         "https://example.com/path?a=1&b=2"),
        ("http://Host.org:80/a/b", "http://host.org/a/b"),
        ("http://host.org:8080/a", "http://host.org:8080/a"),  # non-default kept
        ("https://h.io", "https://h.io/"),                     # empty path -> /
        ("https://h.io/?utm_source=x&gclid=1", "https://h.io/"),
        ("https://h.io/p?z=1&a=2&fbclid=k", "https://h.io/p?a=2&z=1"),
        ("not a url", None),
        ("", None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    got = {r["i"]: r["c"] for r in df.select(
        "i", X.canonicalize_url(F.col("u")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i], got[i])


def test_bpe_batched_rounds_drop_and_stay_exact(spark):
    # VERDICT r4 task 8: the batched trainer must (a) still equal the
    # serial Sennrich reference exactly and (b) use measurably fewer
    # driver round-trips than one-job-per-merge
    corpus = ("the cat sat on the mat while the dog ran in the fog "
              "a big pig dug a rig near the fig tree by the sea "
              "low lower lowest new newer newest wide wider widest")
    df = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    wc: dict[str, int] = {}
    for w in corpus.split():
        wc[w] = wc.get(w, 0) + 1
    want = _bpe_reference(wc, 12)
    stats: dict = {}
    got = X.bpe_learn_merges(df, n_merges=12, batch_m=8, stats=stats)
    assert got == want
    assert stats["rounds"] < 12, stats  # serial would take exactly 12


def test_bpe_batched_equals_serial_on_adversarial_vocab(spark):
    # overlapping high-count pairs (shared symbols, tie-prone counts)
    # force the safety bound to cut batches — the two paths must still
    # produce identical merge lists
    corpus = "aaaa aaab aabb abab abba baab bbaa abc bca cab " * 3
    df = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    wc: dict[str, int] = {}
    for w in corpus.split():
        wc[w] = wc.get(w, 0) + 1
    want = _bpe_reference(wc, 10)
    serial = X.bpe_learn_merges(df, n_merges=10, batch_m=1)
    batched = X.bpe_learn_merges(df, n_merges=10, batch_m=8)
    assert serial == want
    assert batched == want


def test_bpe_batched_equals_reference_randomized(spark):
    # randomized corpora over a tiny alphabet maximize pair interaction;
    # seeds are fixed so the test is deterministic
    import random

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
            for _ in range(40)
        ]
        corpus = " ".join(words)
        df = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
        wc: dict[str, int] = {}
        for w in words:
            wc[w] = wc.get(w, 0) + 1
        want = _bpe_reference(wc, 9)
        got = X.bpe_learn_merges(df, n_merges=9, batch_m=6)
        assert got == want, f"seed={seed}"


def test_cdc_chunks_realign_after_insertion(spark):
    from beats_spark.textops import cdc_chunk_hashes

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the rain keeps falling "
        "on the old tin roof of the quiet farmhouse all afternoon long"
    )
    edited = "breaking news update " + base  # head insertion
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    got = {r.doc_id: r.cdc_hashes for r in cdc_chunk_hashes(df).collect()}
    # the content-defined property: after the first boundary past the
    # insertion, chunks realign — the two docs share a common suffix of
    # identical chunk hashes (fixed-size chunking would share none)
    a, b = got[1], got[2]
    shared_tail = 0
    while (shared_tail < min(len(a), len(b))
           and a[-1 - shared_tail] == b[-1 - shared_tail]):
        shared_tail += 1
    assert shared_tail >= 1, (a, b)
    # and the heads differ (the insertion landed there)
    assert a[0] != b[0] or len(a) != len(b)


def test_cdc_chunks_edges(spark):
    from beats_spark.textops import cdc_chunk_hashes
    import hashlib

    df = spark.createDataFrame(
        [(1, "tiny"),       # shorter than k -> one whole-doc chunk
         (2, "   "),        # whitespace-only -> empty norm -> zero chunks
         (3, "x" * 100)],   # uniform text -> deterministic boundary set
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in cdc_chunk_hashes(df).collect()}
    assert rows[1].n_chunks == 1
    assert rows[1].cdc_hashes == [hashlib.md5(b"tiny").hexdigest()]
    assert rows[2].n_chunks == 0 and rows[2].cdc_hashes == []
    # chunk texts must concatenate back to the normalized doc: verify by
    # recomputing chunks in pure Python with the same predicate
    norm = "x" * 100
    k = 8
    ends = [i + k - 1 for i in range(1, len(norm) - k + 2)
            if hashlib.md5(norm[i - 1:i - 1 + k].encode()).hexdigest()[0]
            == "0" and i + k - 1 < len(norm)]
    ends.append(len(norm))
    starts = [1] + [e + 1 for e in ends[:-1]]
    want = [hashlib.md5(norm[s - 1:e].encode()).hexdigest()
            for s, e in zip(starts, ends)]
    assert rows[3].cdc_hashes == want
