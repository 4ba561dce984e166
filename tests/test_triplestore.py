"""Operator-parity tests for the triple surface, mirroring the reference's
table-driven suite (triplestore/triplestore_test.go)."""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from degdb_spark.operators import triplestore
from degdb_spark.operators.triplestore import TripleStore
from degdb_spark.plans.pattern import ArrayOp
from degdb_spark.schemas import ARROW_SCHEMA

from tests.conftest import spo, store_of

OBAMA = ("/m/02mjmr", "/type/object/name", "Barack Obama")
OBAMA_TYPE = ("/m/02mjmr", "/type/object/type", "/people/person")
HUME = ("/m/0hume", "/type/object/name", "Hume")
HUME_TYPE = ("/m/0hume", "/type/object/type", "/organization/team")
ALL4 = sorted([OBAMA, OBAMA_TYPE, HUME, HUME_TYPE])


# --- pattern queries (TestTripleStoreQuery, triplestore_test.go:64-141) ---

def test_subject_lookup(obama_store):
    out = obama_store.query({"subj": "/m/02mjmr"})
    assert spo(out) == sorted([OBAMA, OBAMA_TYPE])


def test_predicate_scan(obama_store):
    out = obama_store.query({"pred": "/type/object/type"})
    assert spo(out) == sorted([OBAMA_TYPE, HUME_TYPE])


def test_pred_obj_conjunction(obama_store):
    out = obama_store.query({"pred": "/type/object/name", "obj": "Hume"})
    assert spo(out) == [HUME]


def test_empty_pattern_matches_all(obama_store):
    assert spo(obama_store.query({})) == ALL4


def test_limit(obama_store):
    # limit<=0 → unlimited (triplestore.go:51-53,68-71)
    assert obama_store.query({}, limit=3).count() == 3
    assert obama_store.query({}, limit=-1).count() == 4
    assert obama_store.query({}, limit=0).count() == 4


# --- ArrayOp execution (TestTripleStoreQueryArrayOp, :281-379) ---

def test_or_of_two_subjects(obama_store):
    op = ArrayOp(mode="OR", triples=[{"subj": "/m/02mjmr"}, {"subj": "/m/0hume"}])
    assert spo(obama_store.query_array_op(op)) == ALL4


def test_and_of_two_subjects_is_empty(obama_store):
    # per-row conjunction, NOT result-set intersection
    # (triplestore_test.go:332-345)
    op = ArrayOp(mode="AND", triples=[{"subj": "/m/02mjmr"}, {"subj": "/m/0hume"}])
    assert obama_store.query_array_op(op).count() == 0


def test_and_subject_pred(obama_store):
    op = ArrayOp(
        mode="AND",
        triples=[{"subj": "/m/02mjmr"}, {"pred": "/type/object/name"}],
    )
    assert spo(obama_store.query_array_op(op)) == [OBAMA]


def test_not_subject(obama_store):
    op = ArrayOp(mode="NOT", triples=[{"subj": "/m/02mjmr"}])
    assert spo(obama_store.query_array_op(op)) == sorted([HUME, HUME_TYPE])


def test_not_requires_single_argument(obama_store):
    op = ArrayOp(mode="NOT", triples=[{"subj": "a"}, {"subj": "b"}])
    with pytest.raises(ValueError):
        obama_store.query_array_op(op)


def test_nested_arguments(obama_store):
    # AND(OR(subj=a, subj=b), pred=/type/object/type) → both type rows
    op = ArrayOp(
        mode="AND",
        triples=[{"pred": "/type/object/type"}],
        arguments=[
            ArrayOp(mode="OR", triples=[{"subj": "/m/02mjmr"}, {"subj": "/m/0hume"}])
        ],
    )
    assert spo(obama_store.query_array_op(op)) == sorted([OBAMA_TYPE, HUME_TYPE])


# --- insert semantics (TestTripleDuplicates, :38-62) ---

def test_insert_idempotent(spark):
    rows = [
        {"subj": "a", "pred": "p", "obj": "1"},
        {"subj": "a", "pred": "p", "obj": "1"},  # in-batch dup
        {"subj": "b", "pred": "p", "obj": "2"},
    ]
    store = store_of(spark, rows)
    assert store.size()["triples"] == 2
    # re-insert the same batch: count unchanged, 0 added
    df = spark.createDataFrame(
        [("a", "p", "1", None, None, None, None), ("b", "p", "2", None, None, None, None)],
        schema=store.df.schema,
    )
    assert store.insert(df) == 0
    assert store.size()["triples"] == 2


# --- the key index: hash collisions and NULL keys ---

null_key_st = st.tuples(
    st.sampled_from(["a", "b"]), st.sampled_from(["p", "q", None]), st.sampled_from(["1", "2", None])
)


def _batch(keys) -> pa.Table:
    return pa.Table.from_pylist([dict(zip(("subj", "pred", "obj"), k)) for k in keys], schema=ARROW_SCHEMA)


def _keys(store) -> list[tuple]:
    t = store.table
    return list(zip(*(t[c].to_pylist() for c in ("subj", "pred", "obj"))))


@pytest.fixture()
def colliding(monkeypatch):
    """Every key hashes alike, so every probe hits and only the check
    against the stored key tells keys apart."""
    monkeypatch.setattr(triplestore, "_key_hash", lambda key: 7)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=st.lists(st.lists(null_key_st, max_size=12), max_size=10))
def test_index_survives_collisions_and_nulls(colliding, batches):
    store, model = TripleStore(None), []
    for batch in batches:
        seen, added = set(), []
        for k in batch:
            if k not in seen and (None in k or k not in model):
                added.append(k)
            seen.add(k)
        assert store.insert(_batch(batch)) == len(added)
        model += added
        assert _keys(store) == model


@pytest.mark.parametrize("hashing", ["python", "colliding"])
def test_null_key_row_stored_once_per_batch(request, hashing):
    if hashing == "colliding":
        request.getfixturevalue("colliding")
    store = TripleStore(None)
    row = ("a", None, "1")
    assert store.insert(_batch([row, ("a", "p", "1"), row])) == 2
    assert store.insert(_batch([row, ("a", "p", "1")])) == 1
    assert _keys(store) == [row, ("a", "p", "1"), row]


def test_path_seed_reads_as_spark_does(spark, tmp_path):
    """``path=`` reads parquet with pyarrow exactly as Spark's
    ``read.schema(TRIPLE_SCHEMA)`` does: NULLs kept, a column a file lacks
    read as NULL, INT96 and micros ``created`` alike, ``_SUCCESS``
    skipped; and the seeded keys are indexed."""
    import datetime

    from degdb_spark.schemas import TRIPLE_SCHEMA, conform_triples

    out = str(tmp_path / "seed")
    utc = datetime.timezone.utc
    full = [
        ("a", "p", "1", "en", None, "sig-a", datetime.datetime(2024, 5, 1, 12, 30, 1, 250, tzinfo=utc)),
        ("b", None, "2", None, "me", None, None),
        ("c", "p", None, None, None, None, datetime.datetime(1999, 12, 31, 23, 59, 59, tzinfo=utc)),
    ]
    conf = "spark.sql.parquet.outputTimestampType"
    try:
        for ts_type in ("INT96", "TIMESTAMP_MICROS"):
            spark.conf.set(conf, ts_type)
            spark.createDataFrame(full, schema=TRIPLE_SCHEMA).write.mode("append").parquet(out)
    finally:
        spark.conf.unset(conf)
    spark.createDataFrame([("d", "q", "3")], "subj string, pred string, obj string").write.mode("append").parquet(out)

    order = [(c, "ascending") for c in TRIPLE_SCHEMA.names]
    want = conform_triples(spark.read.schema(TRIPLE_SCHEMA).parquet(out).toArrow())
    store = TripleStore(spark, path=out)
    assert store.table.num_rows == 7
    assert store.table.sort_by(order).equals(want.sort_by(order))
    assert store.insert(_batch([("a", "p", "1"), ("d", "q", "3"), ("b", None, "2")])) == 1


def test_df_view_never_older_than_table(spark):
    """A writer that lands while a reader builds the Spark view leaves no
    stale view behind: the next read of ``df`` sees the new table."""
    store = TripleStore(spark)
    store.insert(_batch([("a", "p", "1")]))

    class WriterMidBuild:
        """``createDataFrame`` that runs an insert before it returns."""

        def createDataFrame(self, *args, **kwargs):
            view = spark.createDataFrame(*args, **kwargs)
            store.spark = spark  # one writer; later builds use the session
            store.insert(_batch([("b", "p", "2")]))
            return view

    store.spark = WriterMidBuild()
    store.df  # the reader whose build the insert overtakes
    assert store.df.count() == store.table.num_rows == 2


# --- signing (crypto/crypto.go:62-91) ---

def test_signing_roundtrip(obama_store):
    from degdb_spark.functions.signing import sign_triples, signer

    key = b"test-key"
    signed = sign_triples(obama_store.table, key).to_pylist()
    assert all(r["author"].startswith("degdb:author_") for r in signed)
    assert all(r["sig"] for r in signed)
    for verify, ok in ((signer(key), True), (signer(b"other-key"), False)):
        assert all((verify(r["subj"], r["pred"], r["obj"]) == r["sig"]) is ok for r in signed)
