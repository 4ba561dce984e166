"""Scale-probe tier for the five persisted index lifecycles (VERDICT
r7 ask #6): band index, postings, positional, PQ codes, SemDeDup
assignment.

Each probe builds its index over a corpus, then feeds a 10× LARGER
increment and asserts increment cost scales with the increment, not
the corpus — falsified two ways:

1. **Deletion audit** (the strong form): the corpus parquet files are
   DELETED between build and increment. If any part of increment
   maintenance re-read historical text/codes, the job would die with a
   missing-file error; success + a correct result prove the increment
   touched only its own rows and the persisted index.
2. **Scan audit** (where the API necessarily re-reads raw data —
   SemDeDup's exact pair scoring): count the corpus path's FileScans
   in the physical plan and pin the number to the documented fetches,
   so a regression that re-assigns or re-pairs old vectors shows up
   as an extra scan.

This turns SCALE.md's 100 TB increment story ("tomorrow's increment
never rescans today's text") from documentation into tests that fail
on regression.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from degdb_spark.operators import dedup as D

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _scans_of(df, marker: str) -> int:
    """Count parquet relations in the optimized plan whose file-index
    root path contains ``marker``. Path-exact (walks rootPaths via
    py4j) — the executedPlan STRING truncates Location fields at 100
    chars, which silently hides long tmp paths from substring
    assertions."""
    n = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        try:
            paths = node.relation().location().rootPaths()
            for i in range(paths.length()):
                if marker in paths.apply(i).toString():
                    n += 1
        except Exception:
            pass  # not a file-source relation node
        ch = node.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
    return n

N_CORPUS = 20
N_INC = 200  # the 10× increment


def _texts(n, offset=0, tag="base"):
    return [
        (
            offset + i,
            f"{tag} corpus document {i} the quick brown fox jumps over "
            f"the lazy dog token{i} filler alpha beta gamma delta",
        )
        for i in range(n)
    ]


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)


@pytest.fixture()
def doc_dirs(spark, tmp_path):
    """corpus (N_CORPUS docs) + 10× increment; the first N_CORPUS
    increment docs duplicate corpus texts so cross-generation matches
    exist, the rest are unique."""
    corpus_dir = str(tmp_path / "c.parquet")
    inc_dir = str(tmp_path / "i.parquet")
    base = _texts(N_CORPUS)
    _write_docs(spark, corpus_dir, base)
    inc = [(1000 + i, base[i][1]) for i in range(N_CORPUS)] + _texts(
        N_INC - N_CORPUS, offset=1000 + N_CORPUS, tag="novel"
    )
    _write_docs(spark, inc_dir, inc)
    return corpus_dir, inc_dir


def test_band_index_increment_after_corpus_deletion(spark, doc_dirs, tmp_path):
    corpus_dir, inc_dir = doc_dirs
    idx_dir = str(tmp_path / "bandidx.parquet")
    D.band_table(spark.read.parquet(corpus_dir)).write.parquet(idx_dir)
    shutil.rmtree(corpus_dir)  # old text gone — probe must not need it
    cands = D.incremental_lsh_candidates(
        spark.read.parquet(inc_dir), spark.read.parquet(idx_dir)
    )
    assert _scans_of(cands, "/c.parquet") == 0  # no corpus-text scan at all
    # positive control: the helper does see the direct index scan (the
    # increment's own read hides behind its lazy localCheckpoint)
    assert _scans_of(cands, "bandidx.parquet") >= 1
    got = {(r.id_a, r.id_b) for r in cands.collect()}
    # every corpus doc's duplicate is found via the persisted index
    for i in range(N_CORPUS):
        assert (i, 1000 + i) in got
    # old-vs-old is never re-paired
    assert not any(a < 1000 and b < 1000 for a, b in got)


def test_postings_refresh_after_corpus_deletion(spark, doc_dirs):
    from degdb_spark.operators import search as S
    from degdb_spark.operators.pq import drop_managed_table

    corpus_dir, inc_dir = doc_dirs
    table = "scaleprobe_postings"
    for t in (table, f"{table}_stats"):
        drop_managed_table(spark, t)
    try:
        S.build_postings_index(spark.read.parquet(corpus_dir), table)
        shutil.rmtree(corpus_dir)
        S.refresh_postings_index(spark.read.parquet(inc_dir), table)
        batches = sorted(
            r["_batch"] for r in spark.table(table).select("_batch").distinct().collect()
        )
        assert batches == [0, 1]
        # the query path serves BOTH generations from the index alone
        hits = {r.doc_id for r in S.bm25_topk_from_index(spark, table, ["fox"], k=500).collect()}
        assert any(d < 1000 for d in hits) and any(d >= 1000 for d in hits)
    finally:
        for t in (table, f"{table}_stats"):
            drop_managed_table(spark, t)


def test_positional_refresh_after_corpus_deletion(spark, doc_dirs):
    from degdb_spark.operators import search as S
    from degdb_spark.operators.pq import drop_managed_table

    corpus_dir, inc_dir = doc_dirs
    table = "scaleprobe_positional"
    for t in (table, f"{table}_stats"):
        drop_managed_table(spark, t)
    try:
        S.build_positional_index(spark.read.parquet(corpus_dir), table)
        shutil.rmtree(corpus_dir)
        S.refresh_positional_index(spark.read.parquet(inc_dir), table)
        batches = sorted(
            r["_batch"] for r in spark.table(table).select("_batch").distinct().collect()
        )
        assert batches == [0, 1]
        hits = {
            r.doc_id
            for r in S.phrase_topk_from_index(spark, table, ["quick", "brown", "fox"], k=500).collect()
        }
        assert any(d < 1000 for d in hits) and any(d >= 1000 for d in hits)
    finally:
        for t in (table, f"{table}_stats"):
            drop_managed_table(spark, t)


@pytest.fixture()
def vec_dirs(spark, tmp_path):
    """18 corpus vectors + a 10× (180-vector) increment, disjoint ids,
    both written to deletable paths."""
    corpus_dir = str(tmp_path / "vc.parquet")
    inc_dir = str(tmp_path / "vi.parquet")
    emb = spark.read.parquet(EMB)
    emb.filter(F.col("vec_id") < 18).write.parquet(corpus_dir)
    emb.filter((F.col("vec_id") >= 18) & (F.col("vec_id") < 198)).write.parquet(inc_dir)
    return corpus_dir, inc_dir


def test_pq_refresh_after_corpus_deletion(spark, vec_dirs):
    from degdb_spark.operators import pq as PQ
    from degdb_spark.queries.embeddings_queries import _IVF_CENTROIDS, _PQ_CODEBOOK

    corpus_dir, inc_dir = vec_dirs
    table = "scaleprobe_pq"
    m = len({s for s, _, _ in _PQ_CODEBOOK})
    try:
        PQ.build_pq_index(
            spark.read.parquet(corpus_dir), table, _IVF_CENTROIDS, _PQ_CODEBOOK
        )
        shutil.rmtree(corpus_dir)  # historical vectors gone
        PQ.refresh_pq_index(
            spark.read.parquet(inc_dir), table, _IVF_CENTROIDS, _PQ_CODEBOOK
        )
        idx = spark.table(table)
        assert idx.count() == (18 + 180) * m  # codes for both generations
        batches = sorted(r["_batch"] for r in idx.select("_batch").distinct().collect())
        assert batches == [0, 1]
    finally:
        for t in (table, f"{table}_codebook", f"{table}_centroids"):
            PQ.drop_managed_table(spark, t)


def test_semdedup_increment_scan_audit(spark, tmp_path):
    """SemDeDup's exact pair scoring NECESSARILY reads raw vectors of
    candidate endpoints, so the corpus can't be deleted — instead pin
    the plan: the corpus path is scanned EXACTLY twice (the drop-side
    and keep-side candidate fetches). Re-assigning old vectors on
    increment would add a third corpus scan and fail this."""
    from degdb_spark.operators import ml_lsh as ML
    from degdb_spark.queries.embeddings_queries import _IVF_CENTROIDS

    corpus_dir = str(tmp_path / "sc.parquet")
    inc_dir = str(tmp_path / "si.parquet")
    idx_dir = str(tmp_path / "cells.parquet")
    emb = spark.read.parquet(EMB)
    emb.filter(F.col("vec_id") < 18).write.parquet(corpus_dir)
    emb.filter((F.col("vec_id") >= 18) & (F.col("vec_id") < 198)).write.parquet(inc_dir)

    corpus = spark.read.parquet(corpus_dir)
    inc = spark.read.parquet(inc_dir)
    ML.semantic_cell_table(corpus, _IVF_CENTROIDS).write.parquet(idx_dir)
    out = ML.incremental_semantic_dedup(
        inc,
        spark.read.parquet(idx_dir),
        corpus.unionByName(inc),
        _IVF_CENTROIDS,
        threshold=0.5,
    )
    assert _scans_of(out, "/sc.parquet") == 2  # candidate-endpoint fetches only
    # every emitted decision touches a new vector (old-vs-old never re-paired)
    pairs = [(r.drop_id, r.keep_id) for r in out.collect()]
    assert all(a >= 18 or b >= 18 for a, b in pairs)


def test_linear_trainer_invariant_to_feature_partitioning(spark):
    """The trainer re-pins its feature frame at a row-derived partition
    count (r14: ceil(rows/32768), self-disabling at scale); the
    confusion matrix must be identical whatever layout the feature
    frame arrives in — 1 partition, heavily over-partitioned, or the
    default — because every partitioning step in the loop is
    pure layout (hash repartition + partition-order-independent
    aggregates)."""
    from degdb_spark.operators.linear import (
        hashed_features,
        train_predict_from_features,
    )

    rows = []
    for i in range(60):
        lab = ("a", "b", "c")[i % 3]
        word = {"a": "alpha", "b": "bravo", "c": "carol"}[lab]
        rows.append((i, " ".join([word] * (1 + i % 4) + ["shared"]), lab))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    feat = hashed_features(docs, "lang", 20, 64)
    want = [tuple(r) for r in train_predict_from_features(feat).collect()]
    for layout in (feat.coalesce(1), feat.repartition(64, "f")):
        got = [tuple(r) for r in train_predict_from_features(layout).collect()]
        assert got == want


def test_basket_edges_retract_after_corpus_deletion(spark, tmp_path):
    """Basket-edge index lifecycle (round 11): deletion is a NEGATIVE
    count batch needing only the deleted orders' own rows — the
    historical lineitem parquet is removed between build and retract,
    so any corpus rescan dies on a missing file. The served edge set
    after retraction equals the direct wedge build on the survivors."""
    from degdb_spark.operators import basket as B
    from degdb_spark.operators.pq import drop_managed_table

    rows = [
        (o, p)
        for o in range(60)
        for p in {o % 9, (o + 2) % 9, 30 + o % 4}
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    corpus_dir = str(tmp_path / "li.parquet")
    li.write.parquet(corpus_dir)
    # the deleted orders' rows live in their own file (what an ingest
    # layer keeps per batch); survivors' expected edges snapshot first
    deleted_dir = str(tmp_path / "deleted.parquet")
    li.filter("l_orderkey >= 45").write.parquet(deleted_dir)
    want = {
        (r.u, r.v, r.w)
        for r in B.wedge_counts(li.filter("l_orderkey < 45"))
        .filter(F.col("w") >= B.W_MIN)
        .collect()
    }

    table = "scaleprobe_basket_edges"
    drop_managed_table(spark, table)
    try:
        B.build_basket_edges_index(spark.read.parquet(corpus_dir), table)
        shutil.rmtree(corpus_dir)  # corpus gone — retract must not need it
        B.retract_basket_edges_index(spark.read.parquet(deleted_dir), table)
        served = B.edges_from_index(spark, table)
        assert _scans_of(served, "/li.parquet") == 0  # index-only read
        got = {(r.src, r.dst, r.w) for r in served.filter("src < dst").collect()}
        assert got == want
        assert served.count() == 2 * len(want)
    finally:
        drop_managed_table(spark, table)


def test_substring_index_increment_after_corpus_deletion(spark, doc_dirs, tmp_path):
    """ExactSubstr window-index lifecycle (round 11): the increment is
    cleaned against the persisted 128-bit window index alone — the
    corpus parquet is deleted between build and increment, so any
    historical-text re-read dies on a missing file. Duplicated corpus
    text arriving in the increment is removed; novel text survives."""
    from degdb_spark.operators.dedup import (
        incremental_substring_dedup,
        substring_dedup,
    )

    corpus_dir, inc_dir = doc_dirs
    idx_dir = str(tmp_path / "winidx.parquet")
    L = 5
    corpus = spark.read.parquet(corpus_dir)
    # build the index: batch-0 pass over the corpus, persist its hashes
    _, fresh = incremental_substring_dedup(
        corpus, spark.createDataFrame([], "win_h1 long, win_h2 long"), min_tokens=L
    )
    fresh.write.parquet(idx_dir)
    shutil.rmtree(corpus_dir)  # old text gone — increment must not need it
    report, _ = incremental_substring_dedup(
        spark.read.parquet(inc_dir), spark.read.parquet(idx_dir), min_tokens=L
    )
    assert _scans_of(report, "/c.parquet") == 0  # no corpus-text scan
    rep = {r.doc_id: (r.n_tokens, r.n_removed) for r in report.collect()}
    # docs 1000..1019 duplicate corpus docs whole: every window indexed,
    # the full text is removed
    for i in range(N_CORPUS):
        n_tokens, n_removed = rep[1000 + i]
        assert n_removed == n_tokens
    # novel docs keep their unique tail (they share the boilerplate
    # 'the quick brown fox...' mid-section with history, which goes)
    novel = [v for k, v in rep.items() if k >= 1000 + N_CORPUS]
    assert all(0 < r < n for n, r in novel)


def test_knn_graph_refresh_and_retract_after_corpus_deletion(spark, vec_dirs):
    """Lifecycle #16 (persisted k-NN graph): refresh is search-then-
    link against the index's OWN vector table — the corpus parquet is
    deleted between build and refresh, so success proves the insert
    read only the increment and the persisted artifact. Then a
    tombstone retraction: deleted ids vanish from the served adjacency
    (as sources AND waypoints) and from search results immediately,
    with no rebuild."""
    from degdb_spark.operators import knngraph as KG
    from degdb_spark.operators.pq import drop_managed_table

    corpus_dir, inc_dir = vec_dirs
    table = "scaleprobe_knn_graph"
    try:
        KG.build_knn_graph_index(
            spark.read.parquet(corpus_dir), table, k=4, rounds=1, rho=1
        )
        shutil.rmtree(corpus_dir)  # historical vectors gone
        KG.refresh_knn_graph_index(
            spark.read.parquet(inc_dir), table, k=4, beam=8, hops=2
        )
        idx = spark.table(table)
        assert sorted(
            r["_batch"] for r in idx.select("_batch").distinct().collect()
        ) == [0, 1]
        assert KG.vectors_from_index(spark, table).count() == 18 + 180
        # every inserted vector has a full k-list
        b1 = idx.filter(F.col("_batch") == 1)
        assert b1.groupBy("id").count().agg(F.min("count")).first()[0] == 4

        # retraction: tombstone 3 ids, one of which (0) is an old node
        dead = spark.createDataFrame([(0,), (18,), (19,)], "vec_id long")
        KG.retract_knn_graph_index(dead, table)
        adj = KG.adjacency_from_index(spark, table)
        assert adj.filter(F.col("id").isin(0, 18, 19)).count() == 0
        assert adj.filter(F.col("neighbor_id").isin(0, 18, 19)).count() == 0
        assert KG.vectors_from_index(spark, table).filter(
            F.col("id").isin(0, 18, 19)
        ).count() == 0
        # search still runs and never returns a tombstoned id
        q = spark.read.parquet(inc_dir).filter(F.col("vec_id") == 30)
        res = KG.graph_index_knn(
            spark, table, q, k=5, beam=8, hops=2, k_long=4
        ).collect()
        assert len(res) == 5
        assert not {r.neighbor_id for r in res} & {0, 18, 19}
    finally:
        for t in (table, f"{table}_vectors"):
            drop_managed_table(spark, t)
