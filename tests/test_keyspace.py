"""Keyspace algebra — full port of the reference's vector table
(the reference's protocol/keyspace_test.go:10-318) plus the shard
pruning of keyspace scans over the sharded layout."""

from __future__ import annotations

import pytest

from degdb_spark.plans.keyspace import (
    Keyspace,
    complement,
    intersection,
    keyspace_shards_range,
    union,
)

MAX = (1 << 64) - 1


# keyspace_test.go:10-77
@pytest.mark.parametrize(
    "ks,hash_,want",
    [
        (Keyspace(1, 100), 50, True),
        (Keyspace(1, 100), 150, False),
        (Keyspace(100, 1), 150, True),
        (Keyspace(100, 1), 50, False),
        (Keyspace(100, 50), 25, True),
        (Keyspace(100, 50), 75, False),
        (None, 0, False),
    ],
)
def test_includes(ks, hash_, want):
    got = ks.includes(hash_) if ks is not None else False
    assert got == want


# keyspace_test.go:79-154
@pytest.mark.parametrize(
    "a,b,want",
    [
        (Keyspace(1, 10), Keyspace(20, 30), None),
        (Keyspace(1, 10), Keyspace(10, 20), Keyspace(1, 20)),
        (Keyspace(10, 20), Keyspace(1, 10), Keyspace(1, 20)),
        (Keyspace(1, 20), Keyspace(5, 10), Keyspace(1, 20)),
        (Keyspace(5, 10), Keyspace(1, 20), Keyspace(1, 20)),
        (Keyspace(MAX - 5, MAX - 1), Keyspace(MAX - 1, 20), Keyspace(MAX - 5, 20)),
        (Keyspace(MAX - 1, 20), Keyspace(MAX - 5, MAX - 1), Keyspace(MAX - 5, 20)),
        (Keyspace(MAX - 5, 1), Keyspace(1, 20), Keyspace(MAX - 5, 20)),
        (Keyspace(1, 20), Keyspace(MAX - 5, 1), Keyspace(MAX - 5, 20)),
        (Keyspace(1, 20), Keyspace(20, 1), Keyspace(1, 0)),
        (None, None, None),
        (Keyspace(1, 2), None, Keyspace(1, 2)),
        (None, Keyspace(1, 2), Keyspace(1, 2)),
    ],
)
def test_union(a, b, want):
    assert union(a, b) == want


# keyspace_test.go:156-236
@pytest.mark.parametrize(
    "a,b,want",
    [
        (Keyspace(1, 10), Keyspace(20, 30), None),
        (Keyspace(1, 10), Keyspace(10, 20), Keyspace(10, 10)),
        (Keyspace(10, 20), Keyspace(1, 10), Keyspace(10, 10)),
        (Keyspace(1, 15), Keyspace(10, 20), Keyspace(10, 15)),
        (Keyspace(10, 20), Keyspace(1, 15), Keyspace(10, 15)),
        (Keyspace(1, 20), Keyspace(5, 10), Keyspace(5, 10)),
        (Keyspace(5, 10), Keyspace(1, 20), Keyspace(5, 10)),
        (Keyspace(MAX - 5, MAX - 1), Keyspace(MAX - 1, 20), Keyspace(MAX - 1, MAX - 1)),
        (Keyspace(MAX - 1, 20), Keyspace(MAX - 5, MAX - 1), Keyspace(MAX - 1, MAX - 1)),
        (Keyspace(MAX - 5, 1), Keyspace(1, 20), Keyspace(1, 1)),
        (Keyspace(1, 20), Keyspace(MAX - 5, 1), Keyspace(1, 1)),
        (Keyspace(1, 20), Keyspace(20, 1), Keyspace(1, 1)),
        (None, None, None),
        (Keyspace(1, 2), None, None),
        (None, Keyspace(1, 2), None),
    ],
)
def test_intersection(a, b, want):
    assert intersection(a, b) == want


# keyspace_test.go:238-259
def test_mag():
    assert Keyspace(1, 10).mag() == 9
    assert Keyspace(MAX - 5, 1).mag() == 7


# keyspace_test.go:261-287
def test_maxed():
    assert not Keyspace(1, 10).maxed()
    assert Keyspace(2, 1).maxed()
    assert union(Keyspace(1, 20), Keyspace(20, 1)).maxed()


# keyspace_test.go:289-318
def test_complement():
    assert complement(Keyspace(1, 10)) == Keyspace(10, 1)
    assert complement(None) == Keyspace(1, 0)
    assert complement(Keyspace(1, 0)) is None


# ---------------------------------------------------------- shard pruning
def test_keyspace_shards_range_math():
    # 16 shards → each owns a 2^60-wide arc; half the ring → shards 0-7
    half = Keyspace(0, 1 << 63)
    assert keyspace_shards_range(half, 16) == list(range(0, 8))
    # wrap through zero: top quarter (12-15) + bottom quarter (0-3)
    wrap = Keyspace(3 << 62, 1 << 62)
    assert keyspace_shards_range(wrap, 16) == [0, 1, 2, 3, 12, 13, 14, 15]
    assert keyspace_shards_range(Keyspace(5, 4), 16) is None  # maxed
    assert keyspace_shards_range(None, 16) == []
    # a wrapping arc that starts and ends inside one shard covers the ring
    assert keyspace_shards_range(Keyspace((5 << 60) + 100, (5 << 60) + 50), 16) is None
    # an arc ending at 0 stops at the top of the ring
    assert keyspace_shards_range(Keyspace(14 << 60, 0), 16) == [14, 15]
    with pytest.raises(ValueError):
        keyspace_shards_range(Keyspace(0, 10), 12)


def test_keyspace_query_range_scheme(spark, tmp_path):
    import shutil

    from degdb_spark.functions.murmur3 import murmur3_64
    from degdb_spark.operators.sharded import N_SHARDS, keyspace_query, write_sharded

    df = spark.createDataFrame(
        [(f"s{i}", "p", str(i), None, None, None, None) for i in range(400)],
        schema="subj string, pred string, obj string, lang string, author string, sig string, created timestamp",
    )
    path = str(tmp_path / "range_sharded")
    write_sharded(df, path)

    # expected membership computed independently with the Python algebra
    hashes = {f"s{i}": murmur3_64(f"s{i}".encode()) for i in range(400)}
    arcs = (
        Keyspace(0, 1 << 63),  # half the ring
        Keyspace(3 << 62, 1 << 62),  # wraps through 0
        Keyspace(1 << 62, 3 << 63),  # 3 << 63 wraps to 1 << 63
        Keyspace(0x1234_5678_9ABC_DEF0, 0xC0FF_EE00_0000_0001),  # not on shard edges
    )
    for n, ks in enumerate(arcs):
        got = {r.subj for r in keyspace_query(spark, path, ks).collect()}
        want = {s for s, h in hashes.items() if ks.includes(h)}
        assert got == want and want, ks

        # pruning: the shards keyspace_shards_range names suffice
        pruned = str(tmp_path / f"pruned{n}")
        shutil.copytree(path, pruned)
        keep = keyspace_shards_range(ks, N_SHARDS)
        for i in set(range(N_SHARDS)) - set(keep):
            shutil.rmtree(f"{pruned}/shard={i}", ignore_errors=True)
        assert {r.subj for r in keyspace_query(spark, pruned, ks).collect()} == want, ks

    # nil keyspace includes nothing (keyspace.go:5-7)
    assert keyspace_query(spark, path, None).count() == 0
