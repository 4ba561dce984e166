"""Similarity search over embedding columns (array<float>).

Two paths:

- brute-force cosine top-k: exact; query set broadcast against the
  corpus, dot products via zip_with/aggregate (JVM codegen, no Python).
  At 100 TB this is the per-partition scan baseline — O(Q·N·d) but
  embarrassingly parallel and shuffle-free until the final top-k.
- LSH-bucketed (random hyperplane / SRP): sign-bit sketches over r
  hyperplanes → 2^r buckets; neighbors come from matching buckets only.
  The scale path: one shuffle on bucket id, cost ~ collisions.

An IVF variant (k-means coarse quantizer) would slot in the same shape
(assign → per-centroid buckets); SRP chosen because it needs no training
pass.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from degdb_spark.operators.balance import rebalance_for_compute
from degdb_spark.queries.rounding import dround


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    """Cosine similarity between two array<float/double> columns, as a
    double expression (all JVM-side)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is assumed small (it is broadcast); the join is a
    broadcast-nested-loop producing Q·N rows that immediately collapse
    through the per-query top-k window. Self-matches are excluded.
    Similarity is rounded to ``round_dp`` and ties break on neighbor id,
    making the ranking fully deterministic (and oracle-comparable).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = rebalance_for_compute(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_sim", dround(cosine(F.col("qvec"), F.col("cvec")), round_dp))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def make_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-Gaussian hyperplanes (Box-Muller over a seeded
    PRNG) — fixed across runs so sketches are reproducible."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        plane = []
        for _ in range(dim):
            u1, u2 = rng.random(), rng.random()
            plane.append(math.sqrt(-2 * math.log(max(u1, 1e-12))) * math.cos(2 * math.pi * u2))
        planes.append(plane)
    return planes


def _buckets_from_matrix(vec_col, h2d_col, n_tables: int, n_planes: int):
    """SRP bucket ids for ALL sketch tables in ONE pass over the vector.

    ``h2d_col`` is the position-major hyperplane matrix (row i = the
    plane coefficients at vector position i, flattened across tables);
    one zip_with+aggregate computes every projection at once and the
    finish lambda turns sign bits into per-table bucket ids. The
    matrix travels as a COLUMN, not inlined literals: a
    dim×(tables·planes) literal matrix (64×32 = 2048 nodes) otherwise
    dominates whole-stage codegen compile time (~3 s per query at the
    default shape)."""
    width = n_tables * n_planes
    return F.aggregate(
        F.zip_with(
            vec_col, h2d_col, lambda x, hrow: F.transform(hrow, lambda h: h * x.cast("double"))
        ),
        F.array_repeat(F.lit(0.0), width),
        lambda acc, row: F.zip_with(acc, row, lambda a, b: a + b),
        lambda projs: F.transform(
            F.sequence(F.lit(0), F.lit(n_tables - 1)),
            lambda t: F.aggregate(
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                F.lit(0),
                lambda acc, p: acc
                + F.when(
                    F.element_at(projs, t * n_planes + p + 1) >= 0,
                    F.pow(F.lit(2.0), p).cast("int"),
                ).otherwise(F.lit(0)),
            ).cast("int"),
        ),
    )


def _sketched(
    df: DataFrame,
    side: str,
    tables: list[list[list[float]]],
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(side_id, side_vec, tbl, bucket) rows — all sketch tables in one
    pass. The hyperplane matrix rides in via a broadcast 1-row cross
    join (a length-dim array column), not as expression literals."""
    n_tables, n_planes = len(tables), len(tables[0])
    spark = df.sparkSession
    h2d = [
        [float(tables[t][p][i]) for t in range(n_tables) for p in range(n_planes)]
        for i in range(dim)
    ]
    mat = spark.createDataFrame([(h2d,)], "_h2d array<array<double>>")
    return (
        rebalance_for_compute(df)
        .crossJoin(F.broadcast(mat))
        .select(
            F.col(id_col).alias(f"{side}_id"),
            F.col(vec_col).alias(f"{side}_vec"),
            F.posexplode(
                _buckets_from_matrix(F.col(vec_col), F.col("_h2d"), n_tables, n_planes)
            ).alias("tbl", "bucket"),
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    round_dp: int = 4,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share an SRP bucket in ≥1 of
    n_tables sketch tables; exact cosine re-ranks candidates.

    Scale shape: corpus is sketched once per table (a projection, no
    shuffle), candidate generation is an equi-join on (table, bucket) —
    the only shuffle — and re-rank cost is proportional to collisions.

    ``broadcast_queries`` is the small-query-set fast path (shuffle-free
    candidate join). Pass False whenever the query side is corpus-sized
    — e.g. self-join near-dup — so the join shuffles both sides on
    (tbl, bucket) instead of replicating a full sketched corpus to every
    executor.
    """
    tables = [
        make_hyperplanes(dim, n_planes, seed=42 + t) for t in range(n_tables)
    ]
    cq = _sketched(queries, "query", tables, dim, id_col, vec_col)
    cc = _sketched(corpus, "neighbor", tables, dim, id_col, vec_col)
    if broadcast_queries:
        cq = F.broadcast(cq)
    # Score in the join projection (vectors are colocated there), THEN
    # dedup multi-table collisions on bare (query_id, neighbor_id):
    # duplicates carry identical cosine, so max() == distinct, and the
    # dedup shuffle moves two ids + one double instead of two full
    # embedding vectors per candidate — at 100 TB the difference between
    # shuffling the corpus's vector payload and shuffling a pair list.
    scored = (
        cc.join(cq, on=["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            dround(cosine(F.col("query_vec"), F.col("neighbor_vec")), round_dp),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine_sim").alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold, via SRP
    bucketing (no all-pairs).

    The query side IS the corpus here, so the candidate join must NOT
    broadcast it (that would replicate the whole sketched corpus to
    every executor at 100 TB) — both sides shuffle on (tbl, bucket),
    and the bucket key bounds the pair explosion."""
    topk = lsh_topk(
        corpus,
        corpus,
        k=20,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        round_dp=round_dp,
        broadcast_queries=False,
    )
    return (
        topk.filter(
            (F.col("cosine_sim") >= threshold)
            & (F.col("query_id") < F.col("neighbor_id"))
        )
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cosine_sim",
        )
        .distinct()
    )
