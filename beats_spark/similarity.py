"""Approximate-nearest-neighbor search over an embedding column.

- brute-force cosine top-k (the correctness baseline): broadcast the query
  set, dot products in JVM via zip_with/aggregate in DOUBLE (bitwise-
  deterministic left-to-right sum — the DuckDB oracle reproduces it), rank
  with a per-query window;
- LSH (hyperplanes taken from the corpus itself): signature bits are signs
  of dot products against a broadcast slice of the vectors, all Column
  expressions, bucket join on signature, verify within bucket — the 100 TB
  path (no cross join);
- IVF: deterministic centroid sample, assign-to-nearest, probe top-P cells.

All variants return (query_id, neighbor_id, score, rank). Each similarity
unit (cosine, the top-k ranking, nearest-cell assignment, the LSH
candidates) sits beside its DuckDB twin (`cosine_sql`, `top_k_sql`,
`nearest_cells_sql`, `lsh_candidates_sql`), which every oracle calls
instead of spelling the unit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from beats_spark.scale import truncate_lineage


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of `_cosine` over two DOUBLE[] expressions."""
    return (f"list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))")


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Cosine-score (query_id, _qvec) × (neighbor_id, _vvec) candidate pairs
    and keep each query's k best, ties broken by the lower neighbor_id."""
    scored = pairs.withColumn("score", _cosine(F.col("_qvec"), F.col("_vvec")))
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def top_k_sql(pairs: str, k: int) -> str:
    """DuckDB twin of `_top_k`: `pairs` names a relation of (query_id, qv,
    neighbor_id, nv), the vectors DOUBLE[]; gives (query_id, neighbor_id,
    score, rank) with an INTEGER rank, as Spark's row_number."""
    return f"""SELECT * FROM (
  SELECT query_id, neighbor_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
  FROM (SELECT query_id, neighbor_id, {cosine_sql("qv", "nv")} AS score FROM {pairs}))
WHERE rank <= {k}"""


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k: queries broadcast against the vector table.

    Scale: |queries| must be broadcast-small (the usual ANN-serving shape);
    the big side streams through one pass, ranked by a window partitioned on
    query_id — shuffle size = |queries| × |vectors| candidate rows reduced
    map-side by nothing, so for large query sets use lsh_topk instead.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_vvec"),
    )
    return _top_k(
        v.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id")),
        k,
    )


def allpairs_cosine_stats(
    vectors: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """All-pairs cosine statistics via blocked GEMM.

    Expression-tree dot products cost ~7s/M pairs; one numpy matmul per
    block-pair does the same work at BLAS speed. Each vector is replicated
    to the `n_blocks` (8) block-pair groups it participates in (explode),
    every group computes its pair stats with a single (nb_a × dim) @
    (dim × nb_b) product inside applyInPandas, and a final tiny agg combines
    the B(B+1)/2 partials. Scales out: groups are independent tasks;
    replication factor = n_blocks.

    Returns one row: (n_pairs, near_dups, max_cos).
    """
    n_blocks = 8
    v = vectors.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_e")
    ).withColumn(
        "_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(n_blocks)).cast("int")
    )

    # explode each vector into every block-pair group it belongs to
    pair_keys = F.array(*[
        F.struct(
            F.least(F.col("_blk"), F.lit(b)).alias("b1"),
            F.greatest(F.col("_blk"), F.lit(b)).alias("b2"),
        )
        for b in range(n_blocks)
    ])
    exploded = v.select(
        "_id", "_e", "_blk", F.explode(F.array_distinct(pair_keys)).alias("_p")
    ).select("_id", "_e", "_blk", "_p.b1", "_p.b2")

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        b1, b2 = int(pdf["b1"].iloc[0]), int(pdf["b2"].iloc[0])
        left = pdf[pdf["_blk"] == b1]
        mat_l = np.stack(left["_e"].values).astype(np.float64)
        ids_l = left["_id"].values
        norm_l = np.linalg.norm(mat_l, axis=1)
        if b1 == b2:
            g = (mat_l @ mat_l.T) / np.outer(norm_l, norm_l)
            iu = np.triu_indices(len(ids_l), k=1)
            cos = g[iu]
        else:
            right = pdf[pdf["_blk"] == b2]
            mat_r = np.stack(right["_e"].values).astype(np.float64)
            norm_r = np.linalg.norm(mat_r, axis=1)
            cos = ((mat_l @ mat_r.T) / np.outer(norm_l, norm_r)).ravel()
        return pd.DataFrame({
            "n_pairs": [int(cos.size)],
            "near_dups": [int((cos >= threshold).sum())],
            "max_cos": [float(cos.max()) if cos.size else -1.0],
        })

    partials = exploded.groupBy("b1", "b2").applyInPandas(
        stats, "n_pairs long, near_dups long, max_cos double"
    )
    return partials.agg(
        F.sum("n_pairs").alias("n_pairs"),
        F.sum("near_dups").alias("near_dups"),
        F.round(F.max("max_cos"), 4).alias("max_cos"),
    )


def _centroids(vectors: DataFrame, centroids: DataFrame | None,
               n_cells: int) -> DataFrame:
    """(cell_id, _cvec): the explicit `centroids` frame (vec_id + embedding),
    else the `n_cells` vectors with the smallest xxhash64(id) — a uniform
    pseudo-random but fully deterministic sample. Spark plans
    orderBy().limit(k) as TakeOrderedAndProject: each partition keeps its
    local top-k and only n_cells rows ever reach the driver, so this holds
    at 10^9+ vectors. The oracles pass an id-range slice, which DuckDB can
    reproduce (it has no xxhash64)."""
    cents = (vectors if centroids is None else centroids).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("_cvec")
    )
    if centroids is None:
        cents = cents.orderBy(F.xxhash64("cell_id"), "cell_id").limit(n_cells)
    return cents


def _assign_cells(v: DataFrame, cents: DataFrame, id_name: str) -> DataFrame:
    """Nearest-centroid assignment by cosine (centroids broadcast).

    groupBy + max_by instead of a row_number window: the window shape
    shuffles AND globally sorts all |V|×n_cells scored rows; the aggregate
    gets map-side partial combine, so the exchange carries one row per
    vector and no sort step. Cosine ties break toward the LOWEST cell_id
    (cell_id negated in the ordering struct), matching the old window's
    (desc score, asc cell_id) determinism."""
    a = (
        v.crossJoin(F.broadcast(cents))
        .withColumn("_d", _cosine(F.col("_vvec"), F.col("_cvec")))
    )
    best = a.groupBy(id_name).agg(
        F.max_by(
            F.struct(F.col("_vvec"), F.col("cell_id")),
            F.struct(F.col("_d").alias("d"), (-F.col("cell_id")).alias("nc")),
        ).alias("_best")
    )
    return best.select(
        id_name,
        F.col("_best._vvec").alias("_vvec"),
        F.col("_best.cell_id").alias("cell_id"),
    )


def nearest_cells_sql(vecs: str, cents: str, n: int = 1) -> str:
    """DuckDB twin of `_assign_cells` (n=1) and of `ivf_topk`'s probe pick
    (n=n_probe): each row of the relation `vecs` (vec_id, vv, ...) once per
    one of its n nearest `cents` (cell_id, cv) by cosine, the lowest
    cell_id winning ties."""
    return f"""SELECT * EXCLUDE (cv, _rn) FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY {cosine_sql("vv", "cv")} DESC, cell_id) AS _rn
  FROM {vecs} CROSS JOIN {cents})
WHERE _rn <= {n}"""


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 2,
    plane_id_start: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Bucketed ANN over `n_tables` hyperplane sets; candidates = vectors
    sharing a bucket with the query in ANY table; exact cosine + top-k on
    candidates only. Shuffles are bucket-key joins — no cross join.

    Table t's planes are the corpus vectors with ids [start + t·P,
    start + (t+1)·P); a ValueError names the range when any of them is
    missing. Signature bit = sign of the dot product against each
    plane. Everything is Column expressions (the dot runs in whole-stage
    codegen via zip_with/aggregate — no UDF, no plane matrix), so
    `lsh_candidates_sql` recomputes the identical buckets and candidates.

    Planes are broadcast (T·P rows); per-vector signatures partial-
    aggregate map-side so the exchange carries bare (id, table, sig)
    triples; candidates are bare id pairs; vectors join back BY ID for
    scoring only."""
    n_total = n_planes * n_tables
    planes = vectors.where(
        (F.col(id_col) >= plane_id_start)
        & (F.col(id_col) < plane_id_start + n_total)
    ).select(
        ((F.col(id_col) - plane_id_start) / n_planes)
        .cast("int").alias("_tbl"),
        ((F.col(id_col) - plane_id_start) % n_planes).alias("_bit"),
        F.col(vec_col).alias("_pvec"),
    )
    found = planes.select("_tbl", "_bit").distinct().count()
    if found < n_total:
        raise ValueError(
            f"lsh_topk: the planes are the vectors with ids in "
            f"[{plane_id_start}, {plane_id_start + n_total}); only {found} of "
            f"{n_total} are present"
        )
    # lineage cut: each side feeds its signature aggregation AND the
    # exact-verify join-back — two reads of the embedding store without it
    v = truncate_lineage(vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vvec")
    ))
    q = truncate_lineage(queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ))

    def sigs(side: DataFrame, idn: str, vecn: str) -> DataFrame:
        weight = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_bit AS INT))")
        return (
            side.crossJoin(F.broadcast(planes))
            .groupBy(idn, "_tbl")
            .agg(
                F.sum(
                    F.when(_dot(F.col(vecn), F.col("_pvec")) > 0, weight)
                    .otherwise(F.lit(0).cast("long"))
                ).alias("_sig")
            )
        )

    cands = (
        sigs(v, "neighbor_id", "_vvec")
        .join(sigs(q, "query_id", "_qvec"), ["_tbl", "_sig"])
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _top_k(
        cands.join(v, "neighbor_id")
        .join(q, "query_id"),
        k,
    )


def lsh_candidates_sql(vecs: str, queries: str, n_planes: int, n_tables: int,
                       plane_id_start: int) -> str:
    """DuckDB twin of `lsh_topk`'s candidate pairs: `vecs` and `queries`
    name relations of (vec_id, vv DOUBLE[]), the planes are `vecs` rows;
    gives the distinct (query_id, neighbor_id) pairs."""
    end = plane_id_start + n_planes * n_tables

    def sigs(side: str) -> str:
        return f"""SELECT s.vec_id, p.tbl,
         sum(CASE WHEN list_dot_product(s.vv, p.pv) > 0 THEN 1 << p.bit ELSE 0 END) AS sg
  FROM {side} s CROSS JOIN _planes p GROUP BY 1, 2"""

    return f"""WITH _planes AS (
  SELECT CAST((vec_id - {plane_id_start}) // {n_planes} AS INT) AS tbl,
         (vec_id - {plane_id_start}) % {n_planes} AS bit, vv AS pv
  FROM {vecs} WHERE vec_id >= {plane_id_start} AND vec_id < {end}),
_vsig AS ({sigs(vecs)}),
_qsig AS ({sigs(queries)})
SELECT DISTINCT q.vec_id AS query_id, s.vec_id AS neighbor_id
FROM _vsig s JOIN _qsig q ON s.tbl = q.tbl AND s.sg = q.sg
WHERE s.vec_id <> q.vec_id"""


def semdedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster embeddings,
    then drop all-but-one of every within-cluster pair whose cosine clears
    `threshold` — the standard semantic-dedup step between exact/minhash
    dedup and training. Keep rule is deterministic: a row is dropped iff a
    LOWER-id row in the same cell sits within `threshold` of it, so the
    survivor set is unique regardless of partitioning or join order.

    Returns every input row as (vec_id, cell_id, kept: boolean).

    Scale shape: centroids are broadcast (16 rows — explicit frame or
    the same deterministic xxhash64 sample ivf_topk uses); assignment is
    the max_by aggregate (one exchange of (id, vec, cell), no window sort);
    the pair generation is a CELL-keyed equi-join with a codegen cosine
    residual — never an unblocked cross join — and the drop set travels as
    bare ids for the final anti-join-shaped flag. The within-cell pair
    count is quadratic in cell size BY SEMANTICS (SemDeDup compares all
    pairs inside a cluster): at 100 TB you size n_cells so cells fit the
    comparison budget, exactly as the paper sizes k for its k-means; for
    very fat cells swap the residual join for the blocked-GEMM kernel
    (allpairs_cosine_stats) per cell — same contract, BLAS inner loop.
    """
    v = vectors.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_vvec"))
    cents = _centroids(vectors, centroids, 16)
    # lineage cut: the assignment feeds the pair join twice (a and b
    # sides) plus the final kept-flag join — without it the broadcast
    # crossJoin + max_by assignment (|V|·n_cells dot products) and the
    # embedding scan under it re-execute per consumer (6 FileScans
    # audited). Fresh-JVM sf0.1 A/B reads 4.87→5.17 s — the cut COSTS a
    # materialization job at test scale, where the within-cell quadratic
    # dominates — and is kept anyway: at real corpus sizes re-running the
    # assignment and re-reading the embedding store 3× is the larger
    # term, and the within-cell cost is the same either way.
    va = truncate_lineage(_assign_cells(v, cents, "_id"))
    a = va.select(
        F.col("cell_id"), F.col("_id").alias("_ida"), F.col("_vvec").alias("_va")
    )
    b = va.select(
        F.col("cell_id"), F.col("_id").alias("_idb"), F.col("_vvec").alias("_vb")
    )
    drops = (
        a.join(b, "cell_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(_cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select(F.col("_idb").alias("_id"))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        va.join(drops, "_id", "left")
        .select(
            F.col("_id").alias("vec_id"),
            "cell_id",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def recall_vs_exact(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """One-row recall@k of `approx` against `exact` (both (query_id,
    neighbor_id[, ...]) top-k listings): n_queries, n_exact, n_hit,
    recall. A left join on bare id pairs — both sides are k·|Q| rows."""
    ex = exact.select("query_id", "neighbor_id")
    ap = approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1))
    joined = ex.join(ap, ["query_id", "neighbor_id"], "left")
    return joined.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
    ).select(
        F.lit(k).alias("k"),
        "n_queries",
        "n_exact",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 0,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat: centroids = deterministic distributed sample (`_centroids`,
    optionally refined by distributed Lloyd iterations), vectors assigned
    to their nearest cell, queries probe the `n_probe` nearest cells, exact
    cosine within probed cells.

    With kmeans_iters > 0 the seed is refined fully in Spark: assign
    (broadcast join) → per-cell per-dimension mean (posexplode + groupBy
    avg) → re-assemble centroids — never a driver-side vector. An explicit
    `centroids` frame (vec_id + embedding) overrides the xxhash64 sample."""
    cents = _centroids(vectors, centroids, n_cells)
    v = vectors.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_vvec"))
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec"))

    for _ in range(kmeans_iters):
        assign = _assign_cells(v, cents, "neighbor_id")
        means = (
            assign.select("cell_id", F.posexplode("_vvec").alias("_pos", "_val"))
            .groupBy("cell_id", "_pos")
            .agg(F.avg("_val").alias("_m"))
        )
        cents = (
            means.groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_s"))
            .select(
                "cell_id",
                F.expr("transform(_s, x -> cast(x._m as float))").alias("_cvec"),
            )
        )
        # n_cells rows: materialize so the assign/probe/broadcast consumers
        # don't each re-run the whole refinement lineage (eager=False:
        # constructing the plan triggers no job; the tiny frame pins on
        # first use).
        cents = truncate_lineage(cents, eager=False)

    va = _assign_cells(v, cents, "neighbor_id")

    qa = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("_d", _cosine(F.col("_qvec"), F.col("_cvec")))
    )
    wq = W.partitionBy("query_id").orderBy(F.col("_d").desc(), F.col("cell_id"))
    qa = qa.withColumn("_rn", F.row_number().over(wq)).filter(
        F.col("_rn") <= n_probe
    ).select("query_id", "_qvec", "cell_id")

    return _top_k(
        va.join(qa, "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id")),
        k,
    )
