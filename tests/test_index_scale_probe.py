"""Scale probe for the persisted MinHash band index, plus a layout-
invariance check on the linear trainer.

The band-index probe builds the index over a corpus, deletes the
corpus parquet, then feeds a 10× LARGER increment: success and a
correct candidate set prove the increment touched only its own rows
and the persisted index. A plan audit pins that the corpus path is
never scanned.
"""

from __future__ import annotations

import shutil

import pytest

from degdb_spark.operators import dedup as D


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
