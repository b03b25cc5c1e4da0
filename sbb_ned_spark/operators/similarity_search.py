"""Similarity search over an embedding column (array<float>).

- brute_force_topk : exact cosine top-k over a broadcast cross join,
  fully native (zip_with + aggregate for the dot product). The
  correctness baseline; O(|Q| x |V|) — fine when |Q| is small.
- lsh_topk         : random-hyperplane LSH buckets (one Arrow-batched
  pandas UDF computes ALL tables' buckets in a single matmul) joined on
  (table, bucket) — at 100 TB the cross join is impossible, the bucket
  join shuffles on short keys.
- ivf_topk         : IVF — spherical k-means coarse quantizer (tiny
  driver-held codebook, distributed E-step / native M-step Lloyd
  training); vectors post one cell, queries their n_probe nearest.
  Recall knob is n_probe/n_cells (exhaustive at n_probe == n_cells).
- embedding_near_dup_pairs : pairs with cosine >= tau over the buckets.

The candidate paths are Stage-1 blocking's pair shape:
:func:`blocking.posting_pairs` (with the map-side combine: a pair repeats
across many tables), :func:`blocking.join_sides` of each ``_side``
(vector and norm), then the exact ``_cosine``; the top-k operators share
one ``_top_k`` window.

Parameters are DERIVED from the similarity target, not hard-coded: for
hyperplane LSH the per-plane collision probability of a pair at angle
theta is p = 1 - theta/pi, so a b-plane table collides with prob p^b and
t independent tables reach recall 1-(1-p^b)^t. ``hyperplane_lsh_params``
inverts that for (tau, target_recall): the largest b (most selective
buckets -> cheapest join) whose required t fits the table budget, up to
the 31 planes a non-negative ``int`` bucket id holds. Low tau inherently
forces wide buckets — at tau 0.5 hyperplane LSH needs b=4/t=25 for 99.5%
recall within 32 tables (b=6/t=58 within 64); the candidate join degrades
toward quadratic, which is the correct honest trade. The scale regime for
near-dup is tau >= 0.9, where its 64-table budget keeps buckets sharp:
b=23/t=59 at tau 0.95 (SCALE.md "Stage 1c" has the candidate counts).

Tables are seeded INDEPENDENTLY (seed+i per table) so raising the table
count only ever adds candidates — recall is monotone in t, and a pinned
fixture result stays valid under a later t increase.

Analog in the reference: the Annoy ANN index over embedding vectors
(`/root/reference/qurator/sbb_ned/index.py:436-440,667`) — a point-query
index becomes a set-oriented bucket join; (planes, tables) play the role
of Annoy's (n_trees, search_k) recall/cost knobs
(`webapp/de-config.json:24`, `Makefile:8`).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sbb_ned_spark.functions.partitioning import ensure_min_parallelism
from sbb_ned_spark.operators.blocking import join_sides, posting_pairs


def _side(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v, n): the vector and its norm, computed once per side row."""
    v = F.col(vec_col)
    return df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)).alias("n"),
    )


def _cosine():
    """Rounded cosine of ``v_a``/``v_b`` over the per-SIDE norms
    ``n_a``/``n_b`` (round-6, guide §1.2/§4.1): the higher-order folds
    are interpreted (CodegenFallback), so ``_side`` computes each norm
    once per side row, not per pair — 2/3 less per-pair lambda work,
    numerically identical (the same fold over the same doubles)."""
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na, nb = F.col("n_a"), F.col("n_b")
    return F.round(F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0)), 6)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` highest-cosine neighbors per query, ties broken on the
    smaller neighbor id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self), deterministic
    tie-break on neighbor id."""
    q = _side(queries, id_col, vec_col).toDF("query_id", "v_a", "n_a")
    v = _side(vectors, id_col, vec_col).toDF("neighbor_id", "v_b", "n_b")
    scored = (
        F.broadcast(q)
        .crossJoin(v)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine())
    )
    return _top_k(scored, k)


# bucket ids are array<int>: 31 sign bits are the most a non-negative
# int32 holds
MAX_PLANES = 31


def hyperplane_lsh_params(
    min_cos: float, target_recall: float = 0.995, max_tables: int = 32
) -> tuple[int, int]:
    """(n_planes, n_tables) such that a pair at cosine ``min_cos`` is
    found with probability >= ``target_recall``: the most selective plane
    count, at most ``MAX_PLANES``, whose required table count fits
    ``max_tables``. When not even one plane fits, (1, ``max_tables``)."""
    p = 1.0 - math.acos(min(max(min_cos, -1.0), 1.0)) / math.pi
    if p <= 0.0:
        # min_cos = -1: opposite vectors never share a bucket under any
        # plane — the widest bucketing is the only honest answer
        return 1, max_tables
    if p >= 1.0:
        # min_cos = 1: a pair collides in every table
        return MAX_PLANES, 1
    for b in range(MAX_PLANES, 0, -1):
        # log1p: at low p and many planes 1 - p**b rounds to 1.0
        t = math.ceil(math.log(1.0 - target_recall) / math.log1p(-(p**b)))
        if t <= max_tables:
            return b, t
    return 1, max_tables


def make_hyperplane_buckets_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """pandas UDF: embedding -> array<int> of per-table bucket ids.

    ALL tables are computed in one (batch, dim) x (dim, tables*planes)
    matmul per Arrow batch. Table i's planes come from default_rng(seed+i)
    so each table is an independent hash family and larger n_tables is a
    strict superset of candidates."""
    planes = np.concatenate(
        [
            np.random.default_rng(seed + i).standard_normal((dim, n_planes))
            for i in range(n_tables)
        ],
        axis=1,
    )
    weights = (1 << np.arange(n_planes, dtype=np.int64))[None, None, :]

    @F.pandas_udf("array<int>")
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        proj = mat @ planes  # (batch, tables*planes)
        bits = (proj > 0).astype(np.int64).reshape(len(vecs), n_tables, n_planes)
        out = (bits * weights).sum(axis=2).astype(np.int32)  # (batch, tables)
        return pd.Series(list(out))

    return buckets


def _with_table_buckets(
    df: DataFrame, id_col: str, vec_col: str, dim: int, n_planes: int,
    n_tables: int, seed: int, out_id: str,
) -> DataFrame:
    """(out_id, table, bucket) — one UDF pass, then posexplode.

    Deliberately does NOT carry the vector: the bucket join and the
    pair dedup shuffle bare ids (a few bytes/row); vectors are joined
    back once per side only for the exact verify — at scale the pair
    stream dominates row count, so it must stay narrow."""
    df = ensure_min_parallelism(df)
    udf = make_hyperplane_buckets_udf(dim, n_planes, n_tables, seed)
    return df.select(
        F.col(id_col).alias(out_id),
        F.posexplode(udf(F.col(vec_col))).alias("table", "bucket"),
    )


def lsh_candidates(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    min_cos: float = 0.25,
    target_recall: float = 0.995,
    max_tables: int = 64,
    seed: int = 100,
) -> DataFrame:
    """The bucket-join candidate stage of :func:`lsh_topk`, exposed on its
    own: (query_id, neighbor_id) pairs sharing at least one (table,
    bucket). Public so the structural superset property — candidates ⊇
    true top-k — can be asserted directly (the invariant the tau-derived
    parameters are sized for, and the reason the exact re-rank makes
    ``lsh_topk`` equal brute force on the fixtures)."""
    n_planes, n_tables = hyperplane_lsh_params(min_cos, target_recall, max_tables)
    v = _with_table_buckets(
        vectors, id_col, vec_col, dim, n_planes, n_tables, seed, "neighbor_id"
    )
    q = _with_table_buckets(
        queries, id_col, vec_col, dim, n_planes, n_tables, seed, "query_id"
    )
    pairs = posting_pairs(
        q, ["table", "bucket"], v, a="query_id", b="neighbor_id",
        where=F.col("query_id") != F.col("neighbor_id"),
        combine=True,
    )
    return pairs.select("query_id", "neighbor_id")


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    min_cos: float = 0.25,
    target_recall: float = 0.995,
    max_tables: int = 64,
    seed: int = 100,
) -> DataFrame:
    """Approximate top-k with recall derived from (min_cos, target_recall):
    any neighbor at cosine >= min_cos enters the candidate set with
    probability >= target_recall; candidates are exactly re-ranked.

    With the default parameters this reproduces ``brute_force_topk``
    exactly on the driver fixtures (pinned by pytest recall gates at all
    three fixture scales, plus the structural candidate-superset test) —
    lower max_tables / higher min_cos trade recall for join cost."""
    cand = lsh_candidates(
        vectors, queries, id_col, vec_col, dim, min_cos, target_recall, max_tables, seed
    )
    # no explicit broadcast hint on the re-rank joins: the query-vector
    # table is only broadcast-safe when |Q| is small, and this is the
    # documented scale path — AQE picks broadcast at runtime when the
    # side's actual size fits autoBroadcastJoinThreshold
    scored = join_sides(
        cand, _side(queries, id_col, vec_col), a="query_id", b="neighbor_id",
        right=_side(vectors, id_col, vec_col),
    )
    return _top_k(scored.withColumn("cosine", _cosine()), k)


def make_ivf_probe_udf(centroids: np.ndarray, n_probe: int):
    """pandas UDF: embedding -> array<int> of the ``n_probe`` nearest
    cells by cosine (spherical codebook; one matmul per Arrow batch).
    Stable argsort so ties break deterministically."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        M = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        scores = M @ C.T
        out = np.argsort(-scores, axis=1, kind="stable")[:, :n_probe].astype(np.int32)
        return pd.Series(list(out))

    return probe_cells


def train_ivf_centroids(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    train_iters: int = 2,
    seed: int = 7,
) -> np.ndarray:
    """Spherical k-means coarse codebook for IVF, returned as an
    (n_cells, dim) unit-row matrix.

    The codebook lives on the DRIVER by design — an IVF coarse quantizer
    is small (cells x dim floats, ~8 KB here) regardless of corpus size;
    the two driver actions are bounded by (n_cells) and (n_cells x dim)
    rows respectively, never by the data. Init is deterministic and
    data-dependent: the ``n_cells`` rows with the smallest seeded
    xxhash64(id). Each Lloyd iteration is one narrow assignment UDF pass
    plus one native posexplode/groupBy mean — the classic scalable
    k-means shape (distributed E-step, tiny M-step)."""
    # fan out single-row-group scans BEFORE the per-iteration UDF passes
    # (same rationale as the other Arrow-UDF operator entry points)
    v = ensure_min_parallelism(vectors).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    init = (
        v.withColumn("_h", F.xxhash64(F.col("_id").cast("string"), F.lit(seed)))
        .orderBy("_h", "_id")
        .limit(n_cells)
        .select("_v")
        .collect()
    )
    cents = np.array([r["_v"] for r in init], dtype=np.float64)
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    n_cells = len(cents)
    for _ in range(train_iters):
        assign = make_ivf_probe_udf(cents, 1)
        cell_of = v.select(
            F.element_at(assign("_v"), 1).alias("_cell"),
            F.col("_v"),
        )
        sums = (
            cell_of.select("_cell", F.posexplode("_v").alias("_pos", "_val"))
            .groupBy("_cell", "_pos")
            .agg(F.sum("_val").alias("_s"))
            .collect()
        )
        acc = np.zeros_like(cents)
        for r in sums:
            acc[r["_cell"], r["_pos"]] = r["_s"]
        norms = np.linalg.norm(acc, axis=1, keepdims=True)
        nz = norms[:, 0] > 0
        cents = np.where(nz[:, None], acc / np.maximum(norms, 1e-12), cents)
    return cents


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 8,
    train_iters: int = 2,
    seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: spherical k-means coarse quantizer ->
    vectors posted into ONE cell each, queries probe their ``n_probe``
    nearest cells -> cell equi-join -> exact cosine re-rank (same
    narrow-pair-stream shape as :func:`lsh_topk`; vectors join back only
    for the verify).

    The recall knob is n_probe/n_cells: n_probe == n_cells is exhaustive
    (== brute force by construction); the defaults are pinned EQUAL to
    brute force on the driver fixtures by pytest gates, same contract as
    the LSH variant. At scale the candidate join shuffles on a small
    int cell key; cell balance comes from k-means itself with AQE skew
    handling as the backstop."""
    cents = train_ivf_centroids(vectors, id_col, vec_col, n_cells, train_iters, seed)
    post1 = make_ivf_probe_udf(cents, 1)
    postp = make_ivf_probe_udf(cents, n_probe)
    v = ensure_min_parallelism(vectors).select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at(post1(F.col(vec_col)), 1).alias("cell"),
    )
    q = ensure_min_parallelism(queries).select(
        F.col(id_col).alias("query_id"),
        F.explode(postp(F.col(vec_col))).alias("cell"),
    )
    cand = posting_pairs(
        q, "cell", v, a="query_id", b="neighbor_id",
        where=F.col("query_id") != F.col("neighbor_id"),
        combine=True,
    )
    scored = join_sides(
        cand, _side(queries, id_col, vec_col), a="query_id", b="neighbor_id",
        right=_side(vectors, id_col, vec_col),
    )
    return _top_k(scored.withColumn("cosine", _cosine()), k)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    target_recall: float = 0.995,
    max_tables: int = 64,
    seed: int = 500,
) -> DataFrame:
    """Pairs with cosine >= tau, bucket-blocked then exactly verified.

    (n_planes, n_tables) are derived from tau so a pair AT the threshold
    is recalled with probability >= ``target_recall`` (pairs above tau
    recall strictly better); the exact-cosine verify step makes precision
    1.0. On the driver fixtures the derived parameters recover EVERY true
    pair (pinned by a pytest gate vs the brute-force baseline)."""
    n_planes, n_tables = hyperplane_lsh_params(tau, target_recall, max_tables)
    keyed = _with_table_buckets(
        vectors, id_col, vec_col, dim, n_planes, n_tables, seed, "id_a"
    )
    cand = posting_pairs(keyed, ["table", "bucket"], combine=True)
    return (
        join_sides(cand, _side(vectors, id_col, vec_col))
        .withColumn("cosine", _cosine())
        .filter(F.col("cosine") >= tau)
        .select("id_a", "id_b", "cosine")
    )
