"""persistence.pin: the session knob that picks how multi-consumer
intermediates are materialized (executor-local checkpoint / replicated
persist / reliable checkpoint). All flavors must be bit-identical —
the pin only cuts lineage — and the knob must restore cleanly."""

from __future__ import annotations



import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def _clean_knob(spark):
    yield
    spark.conf.unset("spark.degdb.pin")


def _dsir_rows(spark):
    from degdb_spark.queries.text_queries import dsir_selection

    return [tuple(r) for r in dsir_selection(spark, SF).collect()]


def test_pin_modes_bit_identical(spark, tmp_path, _clean_knob):
    want = _dsir_rows(spark)  # default: localCheckpoint
    spark.conf.set("spark.degdb.pin", "persist")
    assert _dsir_rows(spark) == want
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set("spark.degdb.pin", "checkpoint")
    assert _dsir_rows(spark) == want


def test_pin_persist_mode_covers_migrated_paths(spark, _clean_knob):
    """After the round-9 migration, pin() sits under MLlib fit inputs
    (ml_lsh — where an unmaterialized Python-UDF tree historically
    threw INTERNAL_ERROR), graph base-edge frames, and the setsim
    prefix build. Run one query of each shape under pin=persist — the
    cluster default — and compare to the local-checkpoint rows."""
    from degdb_spark.queries.graph_adv_queries import QUERIES as COV
    from degdb_spark.queries.text_queries import QUERIES as TXT

    def rows(name, q):
        return sorted(tuple(r) for r in q.spark(spark, SF).collect())

    for name, q in (
        ("docs_minhash_neardups", TXT["docs_minhash_neardups"]),
        ("basket_kcore", COV["basket_kcore"]),
        ("docs_setsim_join", TXT["docs_setsim_join"]),
    ):
        want = rows(name, q)
        spark.conf.set("spark.degdb.pin", "persist")
        try:
            assert rows(name, q) == want, name
        finally:
            spark.conf.unset("spark.degdb.pin")


def test_pin_persist_mode_uses_storage(spark, _clean_knob):
    from degdb_spark.persistence import pin

    spark.conf.set("spark.degdb.pin", "persist")
    df = pin(spark.range(10).withColumn("x", F.col("id") * 2), eager=True)
    try:
        assert df.storageLevel.useDisk or df.storageLevel.useMemory
        assert df.storageLevel.replication == 2
        assert df.count() == 10
    finally:
        df.unpersist()


def test_default_pin_mode_follows_master(spark, monkeypatch):
    """Behavior table for the UNSET knob (VERDICT r7 #2): local master
    → executor-local checkpoint; any cluster master → replicated
    persist. The explicit conf always wins over the default."""
    from degdb_spark import persistence

    df = spark.range(5)
    # this suite runs on local[N]
    assert spark.conf.get("spark.master").startswith("local")
    assert persistence.default_pin_mode(df) == "local"

    monkeypatch.setattr(persistence, "_master", lambda f: "spark://host:7077")
    assert persistence.default_pin_mode(df) == "persist"
    # local-cluster runs REAL separate executor JVMs — it must get the
    # cluster-safe default despite the "local" prefix
    monkeypatch.setattr(persistence, "_master", lambda f: "local-cluster[2,1,1024]")
    assert persistence.default_pin_mode(df) == "persist"
    monkeypatch.setattr(persistence, "_master", lambda f: "local[8]")
    assert persistence.default_pin_mode(df) == "local"
    # unset knob on a "cluster" master → the pin really persists
    monkeypatch.setattr(persistence, "_master", lambda f: "spark://host:7077")
    out = persistence.pin(df.withColumn("x", F.col("id") + 1), eager=True)
    try:
        assert out.storageLevel.replication == 2
        assert out.count() == 5
    finally:
        out.unpersist()
    monkeypatch.undo()
    # unset knob on the real local master → localCheckpoint, not persist
    out_local = persistence.pin(df.withColumn("x", F.col("id") + 2))
    assert out_local.storageLevel.replication <= 1
    assert out_local.count() == 5


def test_lineage_cut_modes_bit_identical(spark, tmp_path):
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
    try:
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        spark.conf.set("spark.degdb.lineage_cut", "reliable")
        got = sorted(tuple(r) for r in hash_min_components(vertices, edges).collect())
    finally:
        spark.conf.unset("spark.degdb.lineage_cut")
    assert got == want


def test_lineage_cut_reliable_requires_checkpoint_dir(spark, monkeypatch):
    """'reliable' without setCheckpointDir must fail LOUDLY with the
    fix, and a typo'd knob must raise — never silently degrade to the
    executor-local flavor the knob exists to avoid. Also: the UNSET
    knob follows the master like pin (local → localCheckpoint, cluster
    → reliable)."""
    from degdb_spark import persistence

    df = spark.range(5)
    had_dir = not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty()
    if not had_dir:
        spark.conf.set("spark.degdb.lineage_cut", "reliable")
        try:
            with pytest.raises(ValueError, match="setCheckpointDir"):
                persistence.lineage_cut(df)
        finally:
            spark.conf.unset("spark.degdb.lineage_cut")
    spark.conf.set("spark.degdb.lineage_cut", "relaible")  # typo'd
    try:
        with pytest.raises(ValueError, match="lineage_cut"):
            persistence.lineage_cut(df)
    finally:
        spark.conf.unset("spark.degdb.lineage_cut")
    # unset knob: local master → 'local'; cluster master → 'reliable'
    assert persistence.lineage_cut(df, eager=True).count() == 5
    monkeypatch.setattr(persistence, "_master", lambda f: "spark://host:7077")
    if not had_dir:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            persistence.lineage_cut(df)


def test_persist_ring_prunes_stopped_sessions(spark, _clean_knob, monkeypatch):
    """Ring entries whose owning session has stopped are dropped on the
    next pin instead of being kept alive until 16 newer pins displace
    them (ADVICE r7)."""
    from degdb_spark import persistence

    spark.conf.set("spark.degdb.pin", "persist")
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
