"""Round-5 second-session data ops: deterministic hash splits, corpus
n-gram heavy hitters, tf-idf keywords, Bloom-filter decontamination."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from beats_spark import dedup as D
from beats_spark import sampling as SM
from beats_spark import textops as X

from .conftest import SF_SMOKE


def _py_split(doc_id, weights, salt="split"):
    """Pure-Python recompute of the hash_split decision."""
    hexv = hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:8]
    ths = SM._split_thresholds(weights)
    for name, t in ths:
        if "0" + hexv < t:
            return name
    return ths[-1][0]


class TestHashSplit:
    def test_matches_pure_python_and_partitions_totally(self, spark):
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        w = {"train": 0.9, "val": 0.05, "test": 0.05}
        rows = SM.hash_split(docs, w).select("doc_id", "split").collect()
        assert len(rows) == docs.count()
        for r in rows:
            assert r["split"] == _py_split(r["doc_id"], w)

    def test_repartition_stable(self, spark):
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        a = {r["doc_id"]: r["split"]
             for r in SM.hash_split(docs).select("doc_id", "split").collect()}
        b = {r["doc_id"]: r["split"]
             for r in SM.hash_split(docs.repartition(7))
             .select("doc_id", "split").collect()}
        assert a == b

    def test_corpus_growth_never_moves_a_row(self, spark):
        """Assignment is a pure function of (id, salt): the split of the
        first 100 docs is identical whether computed over 100 or all."""
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        small = SM.hash_split(docs.where(F.col("doc_id") < 100))
        full = SM.hash_split(docs).where(F.col("doc_id") < 100)
        a = {r["doc_id"]: r["split"] for r in small.select("doc_id", "split").collect()}
        b = {r["doc_id"]: r["split"] for r in full.select("doc_id", "split").collect()}
        assert a == b

    def test_integer_weights_and_fractions(self, spark):
        """Integer 8/1/1 weights behave like 0.8/0.1/0.1, and observed
        fractions land near targets on 500 docs."""
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        out = SM.hash_split(docs, {"a": 8, "b": 1, "c": 1})
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        total = sum(counts.values())
        assert 0.7 < counts["a"] / total < 0.9
        assert counts.keys() == {"a", "b", "c"}


class TestNgramTopk:
    def test_hand_computed_counts(self, spark):
        df = spark.createDataFrame(
            [("a b c a b",), ("a b x",), ("zz",), (None,)], "text string"
        )
        got = {(r["gram"], r["n_occurrences"])
               for r in X.ngram_topk(df, n=2, k=10).collect()}
        # doc1 bigrams: a b, b c, c a, a b ; doc2: a b, b x ; doc3: none
        assert got == {("a b", 3), ("b c", 1), ("c a", 1), ("b x", 1)}

    def test_tie_break_and_limit(self, spark):
        df = spark.createDataFrame([("p q",), ("a b",)], "text string")
        rows = X.ngram_topk(df, n=2, k=1).collect()
        assert [(r["gram"], r["n_occurrences"]) for r in rows] == [("a b", 1)]


class TestTfidfTopk:
    def test_hand_computed_ranking(self, spark):
        # 'rare' appears only in doc 1 (df=1); 'common' in both (df=2).
        df = spark.createDataFrame(
            [(1, "rare common common"), (2, "common common other")],
            "doc_id long, text string",
        )
        out = X.tfidf_topk(df, k=2)
        by_doc = {}
        for r in out.collect():
            by_doc.setdefault(r["doc_id"], []).append(
                (r["rank"], r["term"], r["tf"], r["df"]))
        # doc 1: rare tf=1/df=1 (1.0) beats common tf=2/df=2 (1.0)? equal
        # scores -> term asc: 'common' < 'rare'
        assert sorted(by_doc[1]) == [(1, "common", 2, 2), (2, "rare", 1, 1)]
        # doc 2: common 2/2=1.0 beats other 1/1=1.0 on term asc
        assert sorted(by_doc[2]) == [(1, "common", 2, 2), (2, "other", 1, 1)]

    def test_rank_never_exceeds_k(self, spark):
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").where(
            F.col("doc_id") < 50
        )
        out = X.tfidf_topk(docs, k=3)
        assert out.agg(F.max("rank")).first()[0] <= 3
        per_doc = out.groupBy("doc_id").count()
        assert per_doc.agg(F.max("count")).first()[0] <= 3


class TestBloomDecontaminate:
    def test_superset_of_exact_and_deterministic(self, spark):
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").where(
            (F.col("doc_id") < 300) & F.col("text").isNotNull()
        )
        probe = docs.where(F.col("doc_id") % 7 == 0)
        bloom = {r["doc_id"] for r in D.bloom_decontaminate(docs, probe)
                 .where("contaminated").select("doc_id").collect()}
        exact = {r["doc_id"] for r in D.decontaminate(docs, probe)
                 .where("contaminated").select("doc_id").collect()}
        # Bloom can only OVER-flag (false positives), never miss
        assert exact <= bloom
        # and the false-positive rate at m=2^16/k=4 stays modest
        assert len(bloom - exact) <= 0.1 * docs.count()
        again = {r["doc_id"] for r in D.bloom_decontaminate(docs, probe)
                 .where("contaminated").select("doc_id").collect()}
        assert bloom == again

    def test_bitmap_is_bounded_and_matches_python(self, spark):
        """Driver state = m/32 ints regardless of probe size, and the bit
        positions match a pure-Python recompute of the double hash."""
        probe = spark.createDataFrame([("alpha beta gamma",)], "text string")
        m, k, n = 1 << 10, 4, 3
        bitmap = D.bloom_build(probe, n=n, m_bits=m, k_hashes=k)
        assert len(bitmap) == m // 32
        gram = "alpha beta gamma"
        dig = hashlib.md5(gram.encode()).hexdigest()
        h1, h2 = int(dig[:8], 16), int(dig[8:16], 16)
        for i in range(k):
            pos = (h1 + i * h2) % m
            assert (bitmap[pos // 32] >> (pos % 32)) & 1 == 1


class TestStripBoilerplate:
    def test_planted_boilerplate_removed_rare_lines_survive(self, spark):
        rows = [
            (i, f"HEADER\nbody text {i}\nFOOTER\nref: doc-{i}")
            for i in range(20)
        ] + [(99, "HEADER\nlonely body\nunique footer")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               X.strip_boilerplate(df, min_docs=10).collect()}
        # HEADER/FOOTER appear in >= 10 docs -> removed everywhere;
        # body and ref lines are unique -> kept
        assert out[0]["n_removed"] == 2
        assert out[0]["cleaned"] == "body text 0\nref: doc-0"
        # doc 99 shares only HEADER with the crowd
        assert out[99]["n_removed"] == 1
        assert out[99]["cleaned"] == "lonely body\nunique footer"

    def test_matching_is_on_trimmed_form_original_spelling_kept(self, spark):
        rows = [(i, f"  NAV  \nkeep {i}") for i in range(12)]
        rows.append((50, "   NAV\nme too"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["cleaned"] for r in
               X.strip_boilerplate(df, min_docs=10).collect()}
        # '  NAV  ' and '   NAV' trim to the same line -> both removed
        # (trim strips SPACES in both engines; tabs are content)
        assert out[0] == "keep 0"
        assert out[50] == "me too"

    def test_blank_lines_always_survive(self, spark):
        rows = [(i, f"SAME\n\nbody {i}\n ") for i in range(15)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r0 = X.strip_boilerplate(df, min_docs=10).where("doc_id = 0").first()
        # SAME removed; the empty line and the whitespace-only line stay
        assert r0["cleaned"] == "\nbody 0\n "
        assert r0["n_removed"] == 1

    def test_below_threshold_untouched(self, spark):
        rows = [(i, f"RARE\nbody {i}") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = X.strip_boilerplate(df, min_docs=10)
        assert out.agg(F.sum("n_removed")).first()[0] == 0


class TestContainmentPairs:
    def test_quote_detection_and_asymmetry(self, spark):
        # doc 2 is a verbatim quote of half of doc 1: containment(2->1)
        # is high, containment(1->2) is low, and Jaccard sees neither.
        long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        quote = "alpha beta gamma delta epsilon"
        df = spark.createDataFrame(
            [(1, long), (2, quote), (3, "totally unrelated words here now")],
            "doc_id long, text string",
        )
        got = {(r["id_a"], r["id_b"]): r["containment"]
               for r in D.containment_pairs(df, threshold=0.8, ngram_n=3)
               .collect()}
        assert (2, 1) in got and got[(2, 1)] == 1.0
        assert (1, 2) not in got        # asymmetric by construction
        assert not any(3 in pair for pair in got)

    def test_prefix_filter_misses_nothing_vs_brute_force(self, spark):
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").where(
            (F.col("doc_id") < 120) & F.col("text").isNotNull()
        )
        got = {(r["id_a"], r["id_b"])
               for r in D.containment_pairs(docs, threshold=0.8).collect()}
        rows = docs.select("doc_id", "text").collect()

        def gramset(t, n=3):
            tk = t.strip().lower().split()
            return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}

        sets = {r["doc_id"]: gramset(r["text"]) for r in rows}
        want = {
            (a, b)
            for a in sets for b in sets
            if a != b and sets[a]
            and len(sets[a] & sets[b]) >= 0.8 * len(sets[a])
        }
        assert got == want

    def test_short_docs_yield_no_pairs(self, spark):
        df = spark.createDataFrame(
            [(1, "one two"), (2, "one two")], "doc_id long, text string"
        )
        assert D.containment_pairs(df, ngram_n=3).count() == 0


class TestSampleProcessor:
    def test_md5_decision_matches_python_recompute(self, spark):
        from beats_spark.operators import filter as FL
        from beats_spark.sampling import _hex_threshold

        rows = [(f"conv-{i % 7}", i) for i in range(300)] + [(None, 999)]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx long")
        kept = {(r["conv_id"], r["turn_idx"]) for r in
                FL.sample(df, 0.35, ["conv_id", "turn_idx"]).collect()}
        th = _hex_threshold(0.35)
        want = set()
        for c, t in rows:
            key = f"{c if c is not None else chr(0) + 'null'}\x1f{t}"
            if hashlib.md5(key.encode()).hexdigest()[:8] < th:
                want.add((c, t))
        assert kept == want
        # and the realized fraction is in the right neighborhood
        assert 0.25 < len(kept) / len(rows) < 0.45

    def test_fraction_one_keeps_everything(self, spark):
        from beats_spark.operators import filter as FL

        df = spark.createDataFrame([(i,) for i in range(10)], "k long")
        assert FL.sample(df, 1.0, ["k"]).count() == 10


class TestHashEmbedding:
    def test_sign_compression_equals_simhash(self, spark):
        """Signing the dense embedding must reproduce the simhash bits —
        they share one kernel by construction."""
        import numpy as np

        from beats_spark.dedup import hash_embedding_series, simhash_series
        import pandas as pd

        toks = pd.Series([["alpha", "beta", "gamma"], ["one", "two"],
                          ["solo"], [""]])
        votes = hash_embedding_series(toks)
        sigs = simhash_series(toks)
        for v, sig in zip(votes, sigs):
            packed = sum(
                (1 << j) for j, x in enumerate(np.asarray(v)) if x > 0
            )
            assert packed == int(np.uint64(np.int64(sig)))

    def test_additivity_and_empty(self, spark):
        """Embeddings are additive over tokens (a bag-of-words sum): the
        embedding of 'a b' equals emb('a') + emb('b'); empty text is the
        zero vector."""
        import numpy as np
        import pandas as pd

        from beats_spark.dedup import hash_embedding_series

        e = hash_embedding_series(pd.Series([["a", "b"], ["a"], ["b"], [""]]))
        assert (np.asarray(e[0]) == np.asarray(e[1]) + np.asarray(e[2])).all()
        assert (np.asarray(e[3]) == 0).all()

    def test_spark_column_matches_kernel(self, spark):
        from beats_spark.dedup import hash_embedding, hash_embedding_series
        import pandas as pd

        df = spark.createDataFrame(
            [(1, "hello world"), (2, None)], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r["hash_emb"]
                for r in hash_embedding(df).collect()}
        want = hash_embedding_series(pd.Series([["hello", "world"]]))[0]
        assert rows[1] == list(want)
        assert rows[2] == [0] * 64


class TestReviewedEdges:
    """Regression pins for the r5 second-session code-review findings."""

    def test_fully_boilerplate_doc_matches_oracle_semantics(self, spark):
        """A doc whose EVERY line is boilerplate must clean to '' on both
        engines (DuckDB's array_to_string([]) is NULL — the SQL twin
        coalesces it)."""
        import duckdb

        rows = [(i, "NAV\nFOOT") for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = X.strip_boilerplate(df, min_docs=10).where("doc_id = 0").first()
        assert got["cleaned"] == "" and got["n_removed"] == 2
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW t AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, 'NAV' || chr(10) || 'FOOT')" for i in range(12))
            + ") v(doc_id, text)"
        )
        sql = X.strip_boilerplate_sql(table="t", min_docs=10)
        r = con.execute(f"SELECT cleaned_md5 FROM ({sql}) s WHERE doc_id = 0").fetchone()
        assert r[0] == hashlib.md5(b"").hexdigest()

    def test_hash_split_single_split_sql_is_valid(self, spark):
        import duckdb

        sql = SM.hash_split_sql({"all": 1.0})
        assert duckdb.connect().execute(f"SELECT {sql}").fetchone()[0] == "all"
        out = SM.hash_split(
            spark.createDataFrame([(1,)], "doc_id long"), {"all": 1.0}
        ).first()
        assert out["split"] == "all"

    def test_hash_split_subnano_weights_rejected(self):
        import pytest

        with pytest.raises(ValueError):
            SM._split_thresholds({"a": 1e-12, "b": 1e-12})

    def test_hash_split_rejects_negative_or_non_finite_weight(self):
        import pytest

        for weights in ({"a": -1, "b": 2}, {"a": float("nan"), "b": 1.0},
                        {"a": float("inf"), "b": 1.0}):
            with pytest.raises(ValueError):
                SM._split_thresholds(weights)

    def test_strip_boilerplate_null_text_matches_sql_twin(self, spark):
        """NULL text is NULL n_lines, n_removed and cleaned on both
        engines, next to a normal row that still cleans."""
        import duckdb

        rows = [(i, f"NAV\nbody {i}") for i in range(10)] + [(99, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_lines"], r["n_removed"],
                          None if r["cleaned"] is None
                          else hashlib.md5(r["cleaned"].encode()).hexdigest())
            for r in X.strip_boilerplate(df, min_docs=10).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW t AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, 'NAV' || chr(10) || 'body {i}')" for i in range(10))
            + ", (99, NULL)) v(doc_id, text)"
        )
        sql = X.strip_boilerplate_sql(table="t", min_docs=10)
        want = {r[0]: tuple(r[1:]) for r in con.execute(
            f"SELECT doc_id, n_lines, n_removed, cleaned_md5 FROM ({sql}) s"
        ).fetchall()}
        assert got[99] == (None, None, None)
        assert got == want

    def test_bloom_m_bits_must_align_to_words(self, spark):
        import pytest

        probe = spark.createDataFrame([("x y z",)], "text string")
        with pytest.raises(ValueError):
            D.bloom_build(probe, m_bits=100)
