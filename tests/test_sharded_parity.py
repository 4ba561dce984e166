"""Murmur3-64 placement parity: the pure-Python hash matches the
canonical x64_128 known answers (the reference rings route by
murmur3.Sum64 = h1 of x64_128, core/http.go:70), and the sharded layout
it places triples in round-trips: written and read in-process, readable
by Spark, and agreeing with the keyspace algebra."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from degdb_spark.functions.murmur3 import murmur3_64, murmur3_x64_128
from degdb_spark.plans.keyspace import Keyspace, keyspace_shards_range
from tests.conftest import store_of

SCHEMA = "subj string, pred string, obj string, lang string, author string, sig string, created timestamp"
MAX = (1 << 64) - 1


def test_known_answers():
    # canonical x64_128 seed-0 vectors (mmh3 README / smhasher)
    h1, h2 = murmur3_x64_128(b"foo")
    assert (h2 << 64) | h1 == 168394135621993849475852668931176482145
    assert h1 - (1 << 64) == -2129773440516405919  # signed h1
    assert h2 == 9128664383759220103
    assert murmur3_x64_128(b"") == (0, 0)
    # block-boundary lengths: 16 and 17 bytes exercise body + tail paths
    assert murmur3_64(b"0123456789abcdef") != murmur3_64(b"0123456789abcdeg")
    assert murmur3_64(b"0123456789abcdefX") != murmur3_64(b"0123456789abcdef")


def test_seed_changes_hash():
    assert murmur3_64(b"foo", seed=1) != murmur3_64(b"foo", seed=0)


def test_murmur3_sharded_roundtrip(spark, tmp_path):
    from degdb_spark.operators.sharded import layout_meta, rooted_query, write_sharded

    df = spark.createDataFrame(
        [(f"s{i}", "p", str(i), None, None, None, None) for i in range(200)],
        schema=SCHEMA,
    )
    path = str(tmp_path / "mm3_sharded")
    write_sharded(df, path)
    assert layout_meta(path) == {"n_shards": 32, "algo": "murmur3_64", "scheme": "range"}
    # rooted_query routes by the layout's one shard function — no caller hint
    q = rooted_query(spark, path, ["s7", "s99"])
    assert {(r.subj, r.obj) for r in q.collect()} == {("s7", "7"), ("s99", "99")}


def test_spark_reads_the_layout(spark, tmp_path):
    """``spark.read.parquet`` sees every written row, NULL subject
    included, with an int ``shard`` column that ``shard_of`` names."""
    from degdb_spark.operators.sharded import shard_of, write_sharded

    rows = [(f"s{i}", "p", str(i), None, None, None, None) for i in range(50)]
    rows.append((None, "p", "orphan", None, None, None, None))
    path = str(tmp_path / "layout")
    write_sharded(spark.createDataFrame(rows, schema=SCHEMA), path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["shard"] == "int"
    got = back.select("subj", "obj", "shard").collect()
    assert sorted((r.subj or "", r.obj) for r in got) == sorted((s or "", o) for s, _, o, *_ in rows)
    assert all(r.shard == shard_of(r.subj) for r in got if r.subj is not None)


def test_foreign_layout_is_refused(spark, tmp_path):
    """A layout recorded with another hash or scheme, or with no record,
    raises rather than misroutes."""
    import json
    import os

    from degdb_spark.operators.sharded import keyspace_query, rooted_query, write_sharded

    path = str(tmp_path / "layout")
    write_sharded(spark.createDataFrame([("s1", "p", "o", None, None, None, None)], schema=SCHEMA), path)
    meta = os.path.join(path, "_degdb_meta.json")
    with open(meta, "w") as f:
        json.dump({"n_shards": 32, "algo": "xxhash64", "scheme": "mod"}, f)
    with pytest.raises(ValueError):
        rooted_query(spark, path, ["s1"])
    os.remove(meta)
    with pytest.raises(ValueError):
        keyspace_query(spark, path, Keyspace(0, 1 << 63))


def test_sharded_layout_spark_jobs(spark, tmp_path, count_jobs):
    """The write materialises its input once; the reads run no Spark job."""
    from degdb_spark.operators.sharded import keyspace_query, rooted_query, write_sharded

    store = store_of(spark, [{"subj": f"s{i % 40}", "pred": "p", "obj": str(i)} for i in range(200)])
    path = str(tmp_path / "layout")
    _, jobs = count_jobs(lambda: write_sharded(store.df, path))
    assert jobs == 1
    rows, jobs = count_jobs(lambda: rooted_query(spark, path, ["s3", "s7", "s11", "nope"]).collect())
    assert jobs == 0 and len(rows) == 15
    rows, jobs = count_jobs(lambda: keyspace_query(spark, path, Keyspace(1 << 62, 3 << 62)).collect())
    want = sum(5 for i in range(40) if Keyspace(1 << 62, 3 << 62).includes(murmur3_64(f"s{i}".encode())))
    assert jobs == 0 and len(rows) == want


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(subjects=st.lists(st.text(max_size=12), min_size=1, max_size=8, unique=True), data=st.data())
def test_writer_and_keyspace_reader_agree(spark, tmp_path, subjects, data):
    """Writer, rooted reader and keyspace reader place every subject —
    non-ASCII ones included — on the same arc of the murmur3_64 ring; a
    NULL subject is written but never read back."""
    from degdb_spark.operators.sharded import N_SHARDS, keyspace_query, rooted_query, shard_of, write_sharded

    for s in subjects:
        h = murmur3_64(s.encode("utf-8"))
        assert keyspace_shards_range(Keyspace(h, h + 1), N_SHARDS) == [shard_of(s)]

    rows = [(s, "p", f"{s}#{j}") for s in subjects for j in range(data.draw(st.integers(1, 3)))]
    rows.append((None, "p", "orphan"))
    path = str(tmp_path / "layout")
    write_sharded(spark.createDataFrame([(*r, None, None, None, None) for r in rows], schema=SCHEMA), path)

    asked = data.draw(st.lists(st.sampled_from(subjects), unique=True)) + ["never written"]
    got = sorted((r.subj, r.obj) for r in rooted_query(spark, path, asked).collect())
    assert got == sorted((s, o) for s, _, o in rows if s in asked)

    ks = Keyspace(data.draw(st.integers(0, MAX)), data.draw(st.integers(0, MAX)))
    got = sorted((r.subj, r.obj) for r in keyspace_query(spark, path, ks).collect())
    assert got == sorted(
        (s, o) for s, _, o in rows if s is not None and ks.includes(murmur3_64(s.encode("utf-8")))
    )
