"""Similarity search over embedding columns (array<float>).

* ``brute_force_topk`` — exact cosine top-k for a bounded query set:
  broadcast the queries, one pass over the corpus, per-query top-k via
  window rank. The corpus side never shuffles by pair.
* ``cosine_near_pairs`` — near-duplicate pairs within coarse buckets
  (label / LSH bucket): equi-join on the bucket key bounds the pair space.
* ``lsh_bucket_topk`` — scale path: random-hyperplane signs bucket the
  corpus; queries probe only their own bucket. Approximate; recall rises
  with fewer planes.

All dot products are Catalyst zip_with/aggregate in double — no Python in
the scoring loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import cosine_expr
from ..sources.io import ensure_parallelism
from .clustering import canonical_clusters

# above this list count, per-centroid plan literals would blow up the
# expression tree; switch to an Arrow-batched numpy scorer over broadcast
# centroids (one matmul per batch)
_LITERAL_NLIST_MAX = 64


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact baseline.

    queries must be small (driver-bounded); it is broadcast so the corpus
    scan stays shuffle-free until the final per-query top-k.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_near_pairs(
    vectors: DataFrame,
    bucket_col: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id1, id2, cosine) for pairs in the same bucket with cosine >= t."""
    v = vectors.select(
        F.col(id_col).alias("id"), F.col(bucket_col).alias("bucket"), F.col(vec_col).alias("vec")
    )
    l, r = v.alias("l"), v.alias("r")
    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id1"),
            F.col("r.id").alias("id2"),
            F.round(cosine_expr(F.col("l.vec"), F.col("r.vec")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def ivf_build_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    seed: int = 42,
    sample_cap: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Driver-side k-means on a seeded sample -> (n_centroids, dim) array.

    The sample is bounded (``sample_cap``) so this stays a driver-scale
    computation regardless of corpus size — the standard IVF coarse-
    quantizer training recipe. Deterministic given the seed.

    Sampling: order by a seeded hash of the id and take the first
    ``sample_cap`` — an unbiased pseudo-random draw (better k-means
    training data than the lowest ids), and Catalyst compiles
    orderBy+limit to TakeOrderedAndProject (per-partition top-k heap +
    driver merge), so NO global sort or shuffle of the corpus happens.
    """
    pdf = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(sample_cap)
        .toPandas()
    )
    pdf = pdf.sort_values(id_col).reset_index(drop=True)
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.permutation(len(x))[:n_centroids]].copy()
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return cents


def ivf_trained_centroids(
    parquet_path: str,
    n_lists: int = 8,
    seed: int = 42,
    sample_cap: int = 2000,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """TRAINED coarse quantizer as a pure function of a parquet file —
    deterministic spherical k-means with NO Spark and NO numpy-PRNG
    dependence, so the resulting centroids can be inlined as literal
    arrays into BOTH the engine probe and a DuckDB oracle (the same
    replay trick as ``ivf_seeded_centroids`` / ``hyperplane_planes``,
    but with data-dependent centroids and therefore production-grade
    recall).

    This is the offline index-build step of a real IVF deployment: train
    once on a bounded sample (here the shipped sf0.001 embeddings file),
    ship the centroids with the index, probe any corpus against them.

    Determinism recipe (every step replayable from the file alone):
    * sample = first ``sample_cap`` rows ordered by
      ``md5(f"{seed}|{vec_id}")`` (seeded hash draw, no PRNG state);
    * init = the first ``n_lists`` sampled vectors in that hash order;
    * Lloyd iterations with argmax-dot assignment (ties -> lowest cid),
      mean -> L2-normalize update, empty cluster keeps its centroid.
    Results are memoized per (path, params) — callers may invoke this at
    query-build AND oracle-build time and get identical literals.
    """
    import hashlib

    import pyarrow.parquet as pq

    key = (parquet_path, n_lists, seed, sample_cap, iters, id_col, vec_col)
    hit = _TRAINED_CENTROID_MEMO.get(key)
    if hit is not None:
        return hit
    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()
    order = sorted(
        range(len(ids)),
        key=lambda i: hashlib.md5(f"{seed}|{ids[i]}".encode()).hexdigest(),
    )[:sample_cap]
    x = np.asarray([vecs[i] for i in order], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cents = x[:n_lists].copy()
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)  # argmax ties -> lowest cid
        for c in range(n_lists):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    _TRAINED_CENTROID_MEMO[key] = cents
    return cents


_TRAINED_CENTROID_MEMO: dict[tuple, np.ndarray] = {}


def ivf_seeded_centroids(dim: int, n_lists: int, seed: int) -> np.ndarray:
    """Seeded random UNIT centroids — the data-independent coarse
    quantizer. Unlike ``ivf_build_centroids`` (k-means, data-dependent)
    these are a pure function of (dim, n_lists, seed), so a SQL oracle can
    inline the identical literals and replay the whole IVF probe path —
    the same trick ``hyperplane_planes`` uses. Recall is lower than with
    trained centroids; that trade-off is exactly what ``ann_ivf_recall``
    measures."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_lists, dim))
    return c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)


def ivf_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_assign: int = 1,
) -> DataFrame:
    """Measured recall@k of the APPROXIMATE IVF regime (nprobe < n_lists)
    against the exact brute-force top-k on the same queries.

    Output: one row per query — (query_id, n_hits, recall) with
    ``n_hits = |ivf_topk ∩ exact_topk|`` and ``recall = n_hits / k``.
    Queries whose probed lists miss every true neighbor report 0.0 —
    the honest number, not an idealized one. Plan shape: the two top-k
    plans run over the same corpus scan lineage; the final intersection
    is a slim (query_id, neighbor_id) semi-join."""
    approx = ivf_topk(
        corpus, queries, centroids, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, n_assign=n_assign,
    )
    exact = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("query_id").distinct()
        .join(hits, "query_id", "left_outer")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / float(k), 3).alias("recall"),
        )
    )


def _nearest_centroids_expr(vec, cents: np.ndarray, nprobe: int):
    """array of the nprobe centroid ids with highest dot product (pure
    Catalyst: per-centroid dot products + array sort by score)."""
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array(*[F.lit(float(x)) for x in cents[c]]),
                        lambda a, b: a.cast("double") * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("score"),
                F.lit(c).alias("cid"),
            )
            for c in range(len(cents))
        ]
    )
    ranked = F.reverse(F.array_sort(scored))
    return F.slice(ranked, 1, nprobe)


def _nearest_centroid_ids_udf(spark: SparkSession, cents: np.ndarray, nprobe: int):
    """Arrow-batched centroid assigner for LARGE nlist: centroids broadcast
    once, one (batch × nlist) matmul per Arrow batch — the scale path when
    inlining nlist literal arrays would explode the Catalyst plan.

    Tie order on exactly-equal scores is ascending cid (the literal
    expression breaks ties by descending cid) — indistinguishable on
    continuous embeddings.
    """
    bc = spark.sparkContext.broadcast(np.asarray(cents, dtype=np.float64))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        c = bc.value
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        sims = x @ c.T
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.Series(list(idx))

    return _assign


def _probe_lists_expr(
    spark: SparkSession,
    vec,
    cents: np.ndarray,
    nprobe: int,
    assignment: str = "auto",
):
    """array<int> of the nprobe nearest centroid ids — literal expression
    for small nlist, broadcast numpy scorer above _LITERAL_NLIST_MAX."""
    use_udf = assignment == "udf" or (
        assignment == "auto" and len(cents) > _LITERAL_NLIST_MAX
    )
    if use_udf:
        return _nearest_centroid_ids_udf(spark, cents, nprobe)(vec)
    return F.transform(
        _nearest_centroids_expr(vec, cents, nprobe), lambda s: s["cid"]
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignment: str = "auto",
    n_assign: int = 1,
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in their nearest centroid's
    inverted list; each query probes its ``nprobe`` nearest lists only.

    Plan shape: corpus side = one narrow projection (list assignment) —
    at 10^12 scale this is the partition key of the stored index; query
    side explodes to nprobe rows and equi-joins on the list id. Exact
    cosine re-ranks within the probed lists. List assignment is a literal
    expression for small nlist and an Arrow-batched broadcast-numpy
    scorer above ``_LITERAL_NLIST_MAX`` (``assignment`` forces either).

    ``n_assign`` > 1 indexes each corpus vector in its ``n_assign``
    nearest lists (redundant multi-assignment — the standard recall lever
    when the corpus is near-isotropic and cell boundaries cut true
    neighborhoods). Cost is explicit and linear: the stored index grows
    ``n_assign``× and a pair found via two probed lists is deduplicated
    before ranking (identical cosine both times, so the dedup is
    deterministic).
    """
    spark = corpus.sparkSession
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.explode(
            _probe_lists_expr(spark, F.col(vec_col), centroids, n_assign, assignment)
        ).alias("list_id"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            _probe_lists_expr(spark, F.col(vec_col), centroids, nprobe, assignment)
        ).alias("list_id"),
    )
    scored = (
        c.join(F.broadcast(q), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    if n_assign > 1:
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_planes(dim: int, num_planes: int, seed: int) -> np.ndarray:
    """The seeded random-hyperplane matrix — ONE definition shared by the
    Spark bucketers and the DuckDB oracle builder (plans/oracles.py)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim))


def hyperplane_bucket_expr(vec, planes: np.ndarray):
    """bigint sign-bucket of a vector under literal hyperplanes (pure
    Catalyst — the plane matrix lives in the plan)."""
    sig = F.lit(0).cast("bigint")
    for p_idx in range(len(planes)):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in planes[p_idx]]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << p_idx)).otherwise(F.lit(0))
    return sig


def lsh_near_pairs(
    vectors: DataFrame,
    dim: int,
    num_planes: int = 6,
    threshold: float = 0.3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs with the LSH bucketer AS the blocking key —
    the production form of ``cosine_near_pairs`` (which trusts a given
    bucket column): hyperplane sign-buckets bound the pair space, exact
    cosine verifies within each bucket. Fewer planes = bigger buckets =
    higher recall; the single-probe recall loss is the documented
    trade-off (and is what the DuckDB oracle reproduces)."""
    planes = hyperplane_planes(dim, num_planes, seed)
    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    l, r = v.alias("l"), v.alias("r")
    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id1"),
            F.col("r.id").alias("id2"),
            F.round(cosine_expr(F.col("l.vec"), F.col("r.vec")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def canonical_embeddings(
    vectors: DataFrame,
    dim: int,
    num_planes: int = 6,
    threshold: float = 0.3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """END-TO-END embedding-modality dedup — the ``canonical_docs``
    analogue for the vector column: hyperplane-LSH near pairs (bucket
    equi-join, exact-cosine verify inside ``lsh_near_pairs``) ->
    transitive clusters -> canonical survivor per cluster.

    Output: one row PER INPUT VECTOR — (vec_id, cluster_id,
    cluster_size, is_canonical) with cluster_id = min vec_id of the
    near-dup component and singletons their own cluster; filtering on
    ``is_canonical = 1`` yields the deduplicated embedding corpus.

    Scale shape matches canonical_docs: pair generation is the bucketed
    self-join (never all-pairs), clustering shuffles only (child,
    parent) longs per round, and sizes come from a slim groupBy + join,
    not a window (both in ``clustering.canonical_clusters``).
    """
    pairs = lsh_near_pairs(
        vectors, dim, num_planes, threshold, seed, id_col, vec_col
    ).select("id1", "id2")
    return canonical_clusters(vectors.select(F.col(id_col).alias("vec_id")), pairs)


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    num_planes: int = 8,
    k: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucket join then exact
    cosine within the bucket. The plane matrix is a broadcast literal."""
    planes = hyperplane_planes(dim, num_planes, seed)

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        hyperplane_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        hyperplane_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
