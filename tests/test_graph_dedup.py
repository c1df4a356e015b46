"""Connected components (alternating star) + exact prefix-filter similarity
join + transitive minhash dedup.

CC is checked against a pure-Python union-find oracle on a seeded random
graph; prefix filtering is checked against brute-force all-pairs Jaccard
(exactness is the operator's contract — the prefix bound provably loses no
pair at the threshold)."""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import tempfile

import pytest
from pyspark.sql import functions as F

import beats_spark.dedup as D
from beats_spark.graph import assign_components, connected_components


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per component
    return {i: find(i) for i in range(n_nodes)}


def test_cc_matches_union_find_on_random_graph(spark):
    rng = random.Random(42)
    n = 200
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(150)})
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    want = _union_find(n, edges)
    touched = {a for ab in edges for a in ab}
    assert got == {k: v for k, v in want.items() if k in touched}


def test_cc_long_chain_collapses(spark):
    # path graph 0-1-2-...-40: worst case for label propagation, but the
    # alternating-star pass halves diameter per round → one component
    edges = [(i, i + 1) for i in range(40)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    comp = connected_components(e)
    assert {r["component"] for r in comp.collect()} == {0}
    assert comp.count() == 41


def test_cc_string_ids(spark):
    e = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_assign_components_singletons(spark):
    df = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    e = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    got = {
        r["doc_id"]: r["component"]
        for r in assign_components(df, e).select("doc_id", "component").collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5}


def test_minhash_seeds_are_independent(spark):
    # regression: a hash family that collapses to one member guts LSH
    # recall — the K (a, b) parameters must differ, and so must the K
    # minima the signature aggregate (the one _band_candidates bands) gives
    assert len({D._affine_params(i) for i in range(64)}) == 64
    hashed = spark.createDataFrame(
        [(1, ["ab", "cd", "ef", "gh"])], "_id long, sh array<string>"
    ).select("_id", F.explode(F.transform(
        "sh", lambda s: F.pmod(F.xxhash64(s), F.lit(D._MERSENNE_31))
    )).alias("_h"))
    row = D._minhash_signature(hashed, 16).first()
    sig = [row[f"_m{i}"] for i in range(16)]
    assert len(set(sig)) > 8, f"degenerate signature: {sig}"


def test_minhash_recall_at_moderate_jaccard(spark):
    # J≈0.7 pair must be found with 64 hashes / 16 bands (miss prob ~1e-5)
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    toks = base.split()
    mid = " ".join(toks[:8] + ["kilo", "lima"])
    df = spark.createDataFrame([(1, base), (2, mid)], "doc_id long, text string")
    pairs = D.minhash_lsh_pairs(df, threshold=0.5, shingle_k=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got


def test_minhash_null_texts_never_pair(spark):
    # NULL text has no shingles, so it never enters banding: two NULL
    # documents are not near-duplicates of each other
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "hello world foo")], "doc_id long, text string"
    )
    assert D.minhash_lsh_pairs(df).collect() == []


def test_minhash_dedup_cc_transitive_chain(spark):
    # a ~ b ~ c but jaccard(a, c) below threshold: single-link keep rule
    # keeps a only; CC must also collapse b and c into a's component.
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    toks = base.split()
    mid = " ".join(toks[:8] + ["kilo", "lima"])
    far = " ".join(toks[:6] + ["kilo", "lima", "mike", "november"])
    df = spark.createDataFrame(
        [(1, base), (2, mid), (3, far), (4, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    kept = D.minhash_dedup_cc(
        df, threshold=0.5, shingle_k=3, num_hashes=32, bands=16
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 4]


def _brute_force_pairs(rows, threshold):
    sets = {i: set(t.lower().split()) for i, t in rows}
    out = set()
    for (ia, ga), (ib, gb) in itertools.combinations(sorted(sets.items()), 2):
        inter = len(ga & gb)
        union = len(ga | gb)
        if union and inter >= threshold * union:
            out.add((ia, ib, inter, union))
    return out


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_prefix_filter_exactness_vs_brute_force(spark, threshold):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(3, 12))))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["inter_size"], r["union_size"])
        for r in D.prefix_filter_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert got == _brute_force_pairs(rows, threshold)


def test_prefix_filter_on_documents_table(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = D.prefix_filter_jaccard_pairs(docs, threshold=0.5)
    rows = pairs.collect()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert r["inter_size"] <= r["union_size"]
        assert r["jaccard"] >= 0.5


@contextlib.contextmanager
def _checkpoint_dir(spark):
    """A session checkpoint directory for the block, unset afterwards."""
    d = tempfile.mkdtemp(prefix="bs_ckpt_")
    spark.sparkContext.setCheckpointDir(d)
    try:
        yield d
    finally:
        getattr(spark._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.apply(None)
        )


def test_truncate_lineage_local_and_reliable(spark):
    from beats_spark.scale import truncate_lineage

    df = spark.range(100)
    # default: localCheckpoint, deferred — constructing it runs no job
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None) or []
    lazy = truncate_lineage(df)
    _ = lazy.columns
    after = tracker.getJobIdsForGroup(None) or []
    assert len(after) == len(before)
    assert lazy.count() == 100

    # with a checkpoint dir: true cluster-durable checkpoint
    assert spark.sparkContext.getCheckpointDir() is None
    with _checkpoint_dir(spark) as d:
        ck = truncate_lineage(spark.range(25), eager=True)
        assert ck.count() == 25
        assert any(os.scandir(d))  # blocks actually written to the dir


def test_cc_nonconvergence_raises(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=0)


def test_cc_reliable_path_matches_local(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 9), (9, 5)], "id_a long, id_b long"
    )
    local = sorted(map(tuple, connected_components(edges).collect()))
    with _checkpoint_dir(spark) as d:
        durable = sorted(map(tuple, connected_components(edges).collect()))
        assert any(os.scandir(d))
    assert local == durable


def test_minhash_pairs_construction_triggers_no_jobs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.count()  # flush read-side metadata jobs
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None) or []
    pairs = D.minhash_lsh_pairs(docs)
    _ = pairs.columns
    after = tracker.getJobIdsForGroup(None) or []
    # eager=False lineage cut: merely BUILDING the pairs frame runs nothing
    assert len(after) == len(before)
