"""End-to-end API tests mirroring the reference's HTTP round-trips
(core/http_test.go:44-201): insert JSON → query JSON → compare after
stripping volatile fields."""

from __future__ import annotations

import itertools
import json

import pytest

from degdb_spark.api import DegDB

OBAMA_JSON = json.dumps(
    [
        {"subj": "/m/02mjmr", "pred": "/type/object/name", "obj": "Barack Obama"},
        {"subj": "/m/02mjmr", "pred": "/type/object/type", "obj": "/people/person"},
        {"subj": "/m/0hume", "pred": "/type/object/name", "obj": "Hume"},
        {"subj": "/m/0hume", "pred": "/type/object/type", "obj": "/organization/team"},
    ]
)


def _spo(rows):
    return sorted((r["subj"], r["pred"], r["obj"]) for r in rows)


@pytest.fixture()
def db(spark):
    db = DegDB(spark, signing_key=b"node-key")
    assert db.insert_json(OBAMA_JSON) == 4
    return db


def test_insert_query_roundtrip(db):
    rows = db.query_json('[{"subj": "/m/02mjmr"}]')
    assert _spo(rows) == [
        ("/m/02mjmr", "/type/object/name", "Barack Obama"),
        ("/m/02mjmr", "/type/object/type", "/people/person"),
    ]
    # signing stamped author+sig on every row (stripped for comparison,
    # exactly as core/query_test.go:64-72 does)
    assert all(r["author"].startswith("degdb:author_") for r in rows)
    assert all("sig" in r and "created" in r for r in rows)


def test_insert_idempotent_via_api(db):
    assert db.insert_json(OBAMA_JSON) == 0  # re-insert → all dups skipped
    assert db.info()["triples"] == 4


def test_triples_dump_canonical_order(db):
    dump = db.triples()
    spos = [(r["subj"], r["pred"], r["obj"]) for r in dump]
    assert spos == sorted(spos)


def test_query_json_single_object(db):
    # HTTP layer accepts a bare object as a 1-element query
    rows = db.query_json('{"pred": "/type/object/type"}')
    assert len(rows) == 2


def test_query_steps(db):
    db.insert_json(json.dumps([
        {"subj": "/people/person", "pred": "/type/kind", "obj": "entity"},
    ]))
    rows = db.query_steps([{"subj": "/m/02mjmr", "pred": "/type/object/type"}, {}])
    assert _spo(rows) == [("/people/person", "/type/kind", "entity")]


def test_limit(db):
    assert len(db.query_json("[{}]", limit=2)) == 2


def test_bad_payload_rejected(db):
    with pytest.raises(ValueError):
        db.insert_json('[{"subject": "typo"}]')


def test_query_array_op_json(db):
    rows = db.query_array_op_json(
        '{"mode": "AND", "triples": [{"pred": "/type/object/type"}],'
        ' "arguments": [{"mode": "NOT", "triples": [{"subj": "/m/0hume"}]}]}'
    )
    assert _spo(rows) == [("/m/02mjmr", "/type/object/type", "/people/person")]


# --- the node's read path runs no Spark job ---

@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn(), Spark jobs fn ran), counted exactly
    through a job group of its own."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groups = itertools.count()

    def run(fn):
        group = f"test-jobs-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(tracker.getJobIdsForGroup(group))

    return run


def test_node_reads_run_no_spark_job(db, count_jobs):
    batch = json.dumps([{"subj": "/m/0new", "pred": "/type/object/name", "obj": "New"}])
    added, jobs = count_jobs(lambda: db.insert_json(batch))
    assert added == 1 and jobs <= 1
    reads = {
        "query_json": lambda: db.query_json('[{"subj": "/m/0new"}]'),
        "query_array_op_json": lambda: db.query_array_op_json(
            '{"mode": "NOT", "triples": [{"subj": "/m/0hume"}]}'
        ),
        "info": db.info,
        "triples": db.triples,
    }
    for name, read in reads.items():
        result, jobs = count_jobs(read)
        assert result, name
        assert jobs == 0, f"{name} ran {jobs} Spark jobs"


# --- query_json answers exactly as the Catalyst path does ---

def _reference_dump(df) -> list[dict]:
    """Row rendering through ``collect()``: NULL fields omitted, ``created``
    as the naive datetime's isoformat()."""
    out = []
    for r in df.select("subj", "pred", "obj", "lang", "author", "sig", "created").collect():
        d = {k: v for k, v in r.asDict().items() if v is not None}
        if "created" in d:
            d["created"] = d["created"].isoformat()
        out.append(d)
    return out


def _row_set(rows) -> set[str]:
    return {json.dumps(r, sort_keys=True) for r in rows}


@pytest.mark.parametrize(
    "patterns",
    [
        [{"subj": "/m/02mjmr"}],
        [{"subj": "/m/02mjmr"}, {"subj": "/m/0hume"}, {"subj": "/m/0none"}],
    ],
)
def test_query_json_matches_catalyst_dump(db, patterns):
    got = db.query_json(json.dumps(patterns))
    catalyst = db.store.query(patterns)
    assert got and _row_set(got) == _row_set(db._dump(catalyst))
    assert _row_set(got) == _row_set(_reference_dump(catalyst))
    # signed and stamped, NULL lang omitted
    assert all({"author", "sig", "created"} <= set(r) and "lang" not in r for r in got)


def test_query_json_limit_matches_catalyst_dump(db):
    pattern = [{"pred": "/type/object/type", "obj": "/people/person"}]
    db.insert_json(json.dumps(
        [{"subj": f"/m/p{i}", "pred": "/type/object/type", "obj": "/people/person"} for i in range(5)]
    ))
    got = db.query_json(json.dumps(pattern), limit=3)
    everything = _row_set(_reference_dump(db.store.query(pattern)))
    assert len(everything) == 6
    assert len(got) == 3 and _row_set(got) <= everything


def test_triples_matches_catalyst_order(db):
    # NULL pred/obj sort first, as in Spark's orderBy
    db.insert_json(json.dumps([{"subj": "/m/02mjmr"}, {"subj": "/m/0hume", "pred": "/a"}]))
    got = db.triples()
    assert got == _reference_dump(db.store.df.orderBy("subj", "pred", "obj"))
    assert [r.get("pred") for r in got[:3]] == [None, "/type/object/name", "/type/object/type"]
