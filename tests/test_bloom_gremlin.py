"""Bloom summary tests (mirroring /root/reference/triplestore/
bloom_test.go:14-97) + Gremlin-DSL traversals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from degdb_spark.graph.gremlin import G
from degdb_spark.operators.bloom import (
    build_bloom,
    might_contain,
    optimal_params,
    triples_matching_bloom,
)


@pytest.fixture(scope="module")
def big_store(spark):
    # the reference's bloom fixture: 5000 generated triples
    # (bloom_test.go:27-37)
    rows = [(f"/m/0test", "/type/object/name", f"Bloom {i}") for i in range(5000)]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_all_members_recognised(spark, big_store):
    m, k = optimal_params(5000, fpr=1e-6)
    bloom = build_bloom(big_store, ["subj", "pred", "obj"], m, k)
    out = might_contain(big_store, bloom, ["subj", "pred", "obj"])
    assert out.filter(~F.col("_in_bloom")).count() == 0  # no false negatives


def test_false_positive_rate(spark, big_store):
    m, k = optimal_params(5000, fpr=1e-6)
    bloom = build_bloom(big_store, ["subj", "pred", "obj"], m, k)
    probes = spark.createDataFrame(
        [(f"/m/absent", "/p", f"nope {i}") for i in range(20000)],
        ["subj", "pred", "obj"],
    )
    fp = might_contain(probes, bloom, ["subj", "pred", "obj"]).filter(
        F.col("_in_bloom")
    ).count()
    assert fp <= 5  # 20k probes at fpr 1e-6


def test_matching_bloom_roundtrip(spark, big_store):
    # filter built from a subset recognises exactly that subset
    # (+ possible FPs) — TriplesMatchingBloom semantics
    subset = big_store.limit(1000)
    m, k = optimal_params(1000, fpr=1e-6)
    bloom = build_bloom(subset, ["subj", "pred", "obj"], m, k)
    matched = triples_matching_bloom(big_store, bloom)
    n = matched.count()
    assert 1000 <= n <= 1005
    assert matched.join(subset, ["subj", "pred", "obj"], "left_semi").count() == 1000


def test_build_bloom_partition_count_independent(spark, big_store):
    """The bits are identical whether the build read one partition or
    many: each key's slots do not depend on where the key was read."""
    m, k = optimal_params(5000, fpr=1e-3)
    wide = build_bloom(big_store.repartition(24), ["subj", "pred", "obj"], m, k)
    narrow = build_bloom(big_store.coalesce(1), ["subj", "pred", "obj"], m, k)
    assert wide.bits == narrow.bits
    assert (wide.m_bits, wide.k) == (narrow.m_bits, narrow.k)


def test_build_bloom_golden_bits(big_store):
    """The bytes of the 5000-triple fixture's filter are pinned: a change
    to the slot formula or the byte/mask layout would make filters built
    before it disagree with checks made after it (false negatives)."""
    import hashlib

    want = {
        1e-3: "4434cbfd1fef11dde1f383542cc80f85abe934f6a3dc7e45d5bd71c459655919",
        1e-6: "1719f0a966b8269c1382319e5535b4778dcfd187a433b2659c65170c95ee30af",
    }
    for fpr, digest in want.items():
        m, k = optimal_params(5000, fpr=fpr)
        bloom = build_bloom(big_store, ["subj", "pred", "obj"], m, k)
        assert hashlib.sha256(bloom.bits).hexdigest() == digest, fpr


def test_build_bloom_runs_one_spark_job(big_store, count_jobs):
    """One job per build over an unshuffled input: the ``toArrow`` of the
    two hash columns (a shuffled input adds its own shuffle's job)."""
    m, k = optimal_params(5000, fpr=1e-3)
    for df in (big_store, big_store.coalesce(1)):
        _, jobs = count_jobs(lambda: build_bloom(df, ["subj", "pred", "obj"], m, k))
        assert jobs == 1


def test_empty_store_bloom(spark):
    empty = spark.createDataFrame([], "subj string, pred string, obj string")
    m, k = optimal_params(10, fpr=1e-3)
    bloom = build_bloom(empty, ["subj", "pred", "obj"], m, k)
    assert all(b == 0 for b in bloom.bits)
    assert (bloom.m_bits, bloom.k) == (m, k)


# ---------------------------------------------------------------- gremlin
@pytest.fixture(scope="module")
def g(spark):
    rows = [
        ("a", "knows", "b"),
        ("b", "knows", "c"),
        ("c", "knows", "d"),
        ("a", "likes", "d"),
        ("d", "name", "Dee"),
    ]
    return G(spark.createDataFrame(rows, ["subj", "pred", "obj"]))


def test_out_chain(g):
    assert g.V("a").out("knows").out("knows").toList() == ["c"]


def test_in_step(g):
    assert g.V("d").in_().toList() == ["a", "c"]
    assert g.V("d").in_("likes").toList() == ["a"]


def test_both(g):
    assert g.V("b").both("knows").toList() == ["a", "c"]


def test_values_and_has(g):
    vals = {(r.pred, r.obj) for r in g.V("a").out("likes").values().collect()}
    assert vals == {("name", "Dee")}
    assert g.V().has_pred("name").toList() == ["d"]


def test_all_vertices_count(g):
    assert g.V().count() == 5  # a b c d Dee


def test_limit(g):
    assert g.V().limit(2).toList() == ["Dee", "a"]
