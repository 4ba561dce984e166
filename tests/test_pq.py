"""Product quantization (operators/pq.py)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from degdb_spark.operators import pq as PQ


def _cb():
    return PQ.make_codebook(16, m=4, k=4, seed=99)


def test_encode_recovers_exact_codes(spark):
    # corpus vectors are concatenations of codebook centroids — the
    # nearest-centroid encode must return exactly those codes
    cb = _cb()
    by = {(s, c): v for s, c, v in cb}
    want = {1: [0, 3, 2, 1], 2: [3, 3, 0, 0]}
    rows = [
        Row(vec_id=i, embedding=[x for s, c in enumerate(codes) for x in by[(s, c)]])
        for i, codes in want.items()
    ]
    codes = PQ.pq_encode(spark.createDataFrame(rows), cb).collect()
    got = {}
    for r in codes:
        got.setdefault(r.vec_id, [0] * 4)[r.subspace] = r.code
    assert got == want


def test_encode_shape_and_range(spark):
    cb = _cb()
    df = spark.range(0, 20).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.rand(seed=7) * 0.2 - 0.1) for _ in range(16)]).alias("embedding"),
    )
    codes = PQ.pq_encode(df, cb)
    assert codes.count() == 80  # 20 vectors x 4 subspaces
    bad = codes.filter((F.col("code") < 0) | (F.col("code") > 3)).count()
    assert bad == 0


def test_adc_topk_self_retrieval(spark):
    # query == a corpus vector built from centroids: its zero-distance
    # reconstruction twin must surface in the candidates, and ranks are
    # 1..k with non-increasing cosine
    cb = _cb()
    by = {(s, c): v for s, c, v in cb}
    mk = lambda codes: [x for s, c in enumerate(codes) for x in by[(s, c)]]
    rows = [Row(vec_id=i, embedding=mk([i % 4, (i + 1) % 4, (i + 2) % 4, (i + 3) % 4])) for i in range(12)]
    df = spark.createDataFrame(rows)
    out = PQ.pq_adc_topk(df, df.filter(F.col("vec_id") < 2), cb, k=3, rerank=6).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cosine_sim for r in rs]
        assert sims == sorted(sims, reverse=True)
        # vec q+4 and q+8 share q's code pattern (codes cycle mod 4) —
        # identical vectors, cosine 1.0 at rank 1
        assert rs[0].cosine_sim == 1.0


def test_ivf_pq_candidates_subset_of_probed_cells(spark):
    """IVF-PQ neighbors must come only from the query's probed cells,
    and agree with plain PQ when every cell is probed."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.similarity import make_hyperplanes

    cb = _cb()
    cents = [[x * 0.1 for x in v] for v in make_hyperplanes(16, 4, seed=5)]
    df = spark.range(0, 30).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.rand(seed=11) * 0.2 - 0.1) for _ in range(16)]).alias("embedding"),
    )
    q = df.filter(F.col("vec_id") < 2)
    full = PQ.ivf_pq_topk(df, q, cents, cb, k=3, n_probe=4, rerank=10)
    plain = PQ.pq_adc_topk(df, q, cb, k=3, rerank=10)
    got = sorted((r.query_id, r.neighbor_id, r.rank) for r in full.collect())
    want = sorted((r.query_id, r.neighbor_id, r.rank) for r in plain.collect())
    assert got == want  # probing ALL cells == no cell pruning
    pruned = PQ.ivf_pq_topk(df, q, cents, cb, k=3, n_probe=1, rerank=10).collect()
    assert pruned  # still returns neighbors from the single probed cell


def _drop_index_tables(spark, *tables):
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in tables:
        for suffix in ("", "_codebook", "_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")
            shutil.rmtree(os.path.join(wh, t + suffix), ignore_errors=True)


def test_pq_index_query_never_reencodes_corpus(spark):
    """The from-index query equals the inline-encode ivf_pq_topk, and
    its plan touches the raw corpus at most once — the top-rerank
    exact-cosine fetch — never for encoding: the ADC phase starts at
    the persisted code table (cell is a partition column, so the probe
    join can prune partitions)."""
    import contextlib
    import io

    from degdb_spark.queries.embeddings_queries import (
        _IVF_CENTROIDS,
        _IVF_N_PROBE,
        _PQ_CODEBOOK,
    )

    _drop_index_tables(spark, "pq_plan_test")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    PQ.build_pq_index(emb, "pq_plan_test", _IVF_CENTROIDS, _PQ_CODEBOOK)
    # literal query vectors: the only parquet the plan may read is the
    # rerank branch's corpus scan
    queries = spark.createDataFrame(
        [Row(vec_id=r.vec_id, embedding=r.embedding) for r in
         emb.filter(F.col("vec_id") < 3).collect()]
    )
    kw = dict(k=5, n_probe=_IVF_N_PROBE, rerank=20)
    df = PQ.ivf_pq_topk_from_index(
        spark, "pq_plan_test", emb, queries, _IVF_CENTROIDS, _PQ_CODEBOOK, **kw
    )
    direct = PQ.ivf_pq_topk(emb, queries, _IVF_CENTROIDS, _PQ_CODEBOOK, **kw)
    key = lambda d: sorted(tuple(r) for r in d.collect())
    want = key(direct)
    assert key(df) == want and len(want) > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("embeddings.parquet") <= 1, plan
    assert "pq_plan_test" in plan
    _drop_index_tables(spark, "pq_plan_test")
