"""persistence.pin / lineage_cut: the flavor follows the master —
executor-local checkpoints on a single-JVM local master; replicated
persist (pin) and reliable checkpoints (lineage_cut) on a cluster. All
flavors must be bit-identical: a pin only cuts lineage. A cluster is
stood in for by patching ``persistence._master``."""

from __future__ import annotations

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
CLUSTER = "spark://host:7077"


@pytest.fixture()
def on_cluster(spark, tmp_path, monkeypatch):
    """Call to act as a cluster master from then on, with a checkpoint
    dir for lineage_cut's reliable checkpoints."""
    from degdb_spark import persistence

    def switch():
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        monkeypatch.setattr(persistence, "_master", lambda df: CLUSTER)

    return switch


def _dsir_rows(spark):
    from degdb_spark.queries.text_queries import dsir_selection

    return [tuple(r) for r in dsir_selection(spark, SF).collect()]


def test_pin_modes_bit_identical(spark, on_cluster):
    want = _dsir_rows(spark)  # local master: localCheckpoint
    on_cluster()
    assert _dsir_rows(spark) == want


def test_pin_persist_mode_covers_migrated_paths(spark, on_cluster):
    """pin() sits under MLlib fit inputs (ml_lsh — where an
    unmaterialized Python-UDF tree historically threw INTERNAL_ERROR),
    graph base-edge frames, and the setsim prefix build. Run one query
    of each shape as on a cluster master (replicated persist, reliable
    lineage cuts) and compare to the local-checkpoint rows."""
    from degdb_spark.queries.graph_adv_queries import QUERIES as COV
    from degdb_spark.queries.text_queries import QUERIES as TXT

    def rows(q):
        return sorted(tuple(r) for r in q.spark(spark, SF).collect())

    queries = {
        "docs_minhash_neardups": TXT["docs_minhash_neardups"],
        "basket_kcore": COV["basket_kcore"],
        "docs_setsim_join": TXT["docs_setsim_join"],
    }
    want = {name: rows(q) for name, q in queries.items()}
    on_cluster()
    for name, q in queries.items():
        assert rows(q) == want[name], name


def test_pin_persist_mode_uses_storage(spark, on_cluster):
    from degdb_spark.persistence import pin

    on_cluster()
    df = pin(spark.range(10).withColumn("x", F.col("id") * 2), eager=True)
    try:
        assert df.storageLevel.useDisk or df.storageLevel.useMemory
        assert df.storageLevel.replication == 2
        assert df.count() == 10
    finally:
        df.unpersist()


def test_default_pin_mode_follows_master(spark, monkeypatch):
    """Behavior table: a single-JVM local master → executor-local
    checkpoint; any cluster master → replicated persist."""
    from degdb_spark import persistence

    df = spark.range(5)
    # this suite runs on local[N]
    assert spark.conf.get("spark.master").startswith("local")
    assert persistence._single_jvm(df)

    # local-cluster runs REAL separate executor JVMs — it must get the
    # cluster-safe flavor despite the "local" prefix
    for master, single in ((CLUSTER, False), ("local-cluster[2,1,1024]", False), ("local[8]", True)):
        monkeypatch.setattr(persistence, "_master", lambda f: master)
        assert persistence._single_jvm(df) is single, master
    # on a "cluster" master the pin really persists
    monkeypatch.setattr(persistence, "_master", lambda f: CLUSTER)
    out = persistence.pin(df.withColumn("x", F.col("id") + 1), eager=True)
    try:
        assert out.storageLevel.replication == 2
        assert out.count() == 5
    finally:
        out.unpersist()
    monkeypatch.undo()
    # on the real local master → localCheckpoint, not persist
    out_local = persistence.pin(df.withColumn("x", F.col("id") + 2))
    assert out_local.storageLevel.replication <= 1
    assert out_local.count() == 5


def test_lineage_cut_modes_bit_identical(spark, on_cluster):
    """lineage_cut's two flavors (executor-local / reliable checkpoint)
    must produce bit-identical results on an iterative algorithm —
    connected_components exercises both the pinned base edges and the
    per-superstep state cuts."""
    from degdb_spark.graph.algorithms import hash_min_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["src", "dst"]
    )
    vertices = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 99)], ["id"]
    )
    want = sorted(tuple(r) for r in hash_min_components(vertices, edges).collect())
    on_cluster()
    got = sorted(tuple(r) for r in hash_min_components(vertices, edges).collect())
    assert got == want


def test_lineage_cut_reliable_requires_checkpoint_dir(spark, monkeypatch):
    """On a cluster master with no checkpoint dir, lineage_cut must fail
    LOUDLY with the fix — never silently degrade to the executor-local
    flavor. A local master needs no checkpoint dir."""
    from degdb_spark import persistence

    df = spark.range(5)
    monkeypatch.setattr(SparkContext, "getCheckpointDir", lambda self: None)
    assert persistence.lineage_cut(df, eager=True).count() == 5
    monkeypatch.setattr(persistence, "_master", lambda f: CLUSTER)
    with pytest.raises(ValueError, match="setCheckpointDir"):
        persistence.lineage_cut(df)


def test_persist_ring_prunes_stopped_sessions(spark, on_cluster, monkeypatch):
    """Ring entries whose owning session has stopped are dropped on the
    next pin instead of being kept alive until 16 newer pins displace
    them (ADVICE r7)."""
    from degdb_spark import persistence

    on_cluster()
    dead = persistence.pin(spark.range(3))
    assert dead in persistence._PERSIST_RING
    monkeypatch.setattr(
        persistence, "_session_stopped", lambda f: f is dead
    )
    live = persistence.pin(spark.range(4))
    try:
        assert dead not in persistence._PERSIST_RING
        assert live in persistence._PERSIST_RING
    finally:
        live.unpersist()
        dead.unpersist()
        persistence._PERSIST_RING.clear()


def test_frame_memo_is_bounded(spark):
    """The per-frame memo dicts evict FIFO beyond _FRAME_MEMO_MAX so a
    parameter sweep can't accrete entries for the frame's lifetime
    (VERDICT r7 ask #7)."""
    from degdb_spark.operators import dedup

    memo: dict = {}
    for i in range(dedup._FRAME_MEMO_MAX + 3):
        dedup._memo_put(memo, ("k", i), i)
    assert len(memo) == dedup._FRAME_MEMO_MAX
    # oldest evicted, newest kept
    assert ("k", 0) not in memo
    assert ("k", dedup._FRAME_MEMO_MAX + 2) in memo


def test_compact_pinned_folds_small_and_keeps_large(spark):
    """compact_pinned (r13): a tiny materialized frame folds to
    ceil(rows/target) partitions via narrow coalesce; a frame already
    at/below that target keeps every partition (the no-op branch that
    makes the helper scale-safe). Row content is untouched."""
    from degdb_spark.operators.balance import compact_pinned
    from degdb_spark.persistence import pin

    small = pin(spark.range(1000).repartition(16), eager=True)
    folded = compact_pinned(small, rows_per_partition=65536)
    assert folded.rdd.getNumPartitions() == 1
    assert folded.count() == 1000

    # 3 partitions of ~troughly target-sized rows: want >= parts -> unchanged
    big = pin(spark.range(10_000).repartition(3), eager=True)
    kept = compact_pinned(big, rows_per_partition=4000)
    assert kept.rdd.getNumPartitions() == 3
