"""End-to-end API tests mirroring the reference's HTTP round-trips
(core/http_test.go:44-201): insert JSON → query JSON → compare after
stripping volatile fields."""

from __future__ import annotations

import hashlib
import hmac
import json

import pytest

from degdb_spark.api import DegDB
from degdb_spark.functions.signing import sign_triples
from degdb_spark.schemas import TRIPLE_SCHEMA
from degdb_spark.sources.json_triples import triples_from_json

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
    before = db.info()["triples"]
    for payload in [
        '[{"subject": "typo"}]',  # unknown field
        "[1]",  # element that is not an object
        '[{"pred": "/p", "obj": "o"}]',  # missing subj
        '[{"subj": null, "pred": "/p"}]',  # NULL subj
        '[{"subj": "/m/x", "created": 5}]',  # created is the node's to stamp
        '[{"subj": "/m/x", "created": "2024-01-01T00:00:00"}]',
        '{"subj": 5}',  # non-string values are not coerced
        '[{"subj": "/m/x", "obj": 5}]',
        '[{"subj": "/m/x", "pred": ["/p"]}]',
        '[{"subj": "/m/ok"}, {"subj": 5}]',  # one bad row rejects the batch
        "5",
        '"[]"',
        "null",
    ]:
        with pytest.raises(ValueError):
            db.insert_json(payload)
        assert db.info()["triples"] == before, payload


def test_query_array_op_json(db):
    rows = db.query_array_op_json(
        '{"mode": "AND", "triples": [{"pred": "/type/object/type"}],'
        ' "arguments": [{"mode": "NOT", "triples": [{"subj": "/m/0hume"}]}]}'
    )
    assert _spo(rows) == [("/m/02mjmr", "/type/object/type", "/people/person")]
    for q in [
        "[1]",  # not an object
        '"x"',
        "null",
        '{"arguments": [1]}',  # arguments must be objects
        '{"arguments": {"mode": "OR"}}',
        '{"triples": [1]}',  # triples must be objects
        '{"triples": "ab"}',  # not split into one-character patterns
    ]:
        with pytest.raises(ValueError):
            db.query_array_op_json(q)


# --- the node's routes run no Spark job and keep no Spark view ---

def _holds_dataframe(value) -> bool:
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        return True
    if isinstance(value, dict):
        value = list(value.values())
    return isinstance(value, (tuple, list)) and any(_holds_dataframe(v) for v in value)


def test_node_reads_run_no_spark_job(db, count_jobs):
    batch = json.dumps([{"subj": "/m/0new", "pred": "/knows", "obj": "/m/02mjmr"}])
    added, jobs = count_jobs(lambda: db.insert_json(batch))
    assert added == 1 and jobs == 0
    # a DataFrame batch (the bulk load) runs exactly its toArrow job
    bulk = db.spark.range(2).selectExpr("concat('/m/bulk', id) AS subj", "'/p' AS pred", "'o' AS obj")
    added, jobs = count_jobs(lambda: db.insert(bulk))
    assert added == 2 and jobs == 1
    reads = {
        "query_json": lambda: db.query_json('[{"subj": "/m/0new"}]'),
        "query_array_op_json": lambda: db.query_array_op_json(
            '{"mode": "NOT", "triples": [{"subj": "/m/0hume"}]}'
        ),
        "query_steps": lambda: db.query_steps([{"subj": "/m/0new"}, {"pred": "/type/object/name"}]),
        "info": db.info,
        "triples": db.triples,
    }
    for name, read in reads.items():
        result, jobs = count_jobs(read)
        assert result, name
        assert jobs == 0, f"{name} ran {jobs} Spark jobs"
    assert _spo(reads["query_steps"]()) == [("/m/02mjmr", "/type/object/name", "Barack Obama")]
    # a Catalyst caller's view is its own: the store keeps only the table
    assert db.store.df.count() == db.info()["triples"]
    held = [name for name, value in vars(db.store).items() if _holds_dataframe(value)]
    assert held == [], f"TripleStore holds a Spark view in {held}"


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
    assert got and _row_set(got) == _row_set(db._dump(catalyst.toArrow()))
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


# --- every signing path gives the same signature ---

def _plain_sig(key: bytes, fp_algo: str, subj, pred, obj) -> str:
    """The signature recomputed with hashlib/hmac alone."""
    payload = "\t".join([subj or "", pred or "", obj or ""]).encode()
    if fp_algo == "sha1":
        return hmac.new(key, hashlib.sha1(payload).digest(), hashlib.sha256).hexdigest()
    # hex-domain HMAC: pads, digests and message are hex strings
    kp = key.ljust(64, b"\x00")
    ipad, opad = bytes(b ^ 0x36 for b in kp).hex(), bytes(b ^ 0x5C for b in kp).hex()
    inner = hashlib.sha256((ipad + hashlib.sha256(payload).hexdigest()).encode()).hexdigest()
    return hashlib.sha256((opad + inner).encode()).hexdigest()


FORGED = [
    {"subj": "/m/a", "pred": "/p", "obj": "o", "author": "degdb:author_1", "sig": "forged"},
    {"subj": "/m/b"},
    {"subj": "/m/c", "pred": "/p"},
    {"subj": "/m/d", "obj": "o", "lang": "en", "sig": "0" * 64},
]


@pytest.mark.parametrize("fp_algo", ["sha1", "sha256-hex"])
def test_signature_parity_across_signers(spark, fp_algo):
    """A JSON batch and the same rows materialised from a DataFrame (as a
    bulk load and the registry's signature query sign them) get the
    signature that hashlib/hmac alone compute."""
    key = b"parity-key"
    author = f"degdb:author_{int.from_bytes(hashlib.sha256(key).digest()[:8], 'big')}"
    table = triples_from_json(json.dumps(FORGED))
    in_process = sign_triples(table, key, fp_algo=fp_algo).to_pylist()
    materialised = spark.createDataFrame(table, schema=TRIPLE_SCHEMA).toArrow()
    by_df = {r["subj"]: (r["author"], r["sig"]) for r in sign_triples(materialised, key, fp_algo=fp_algo).to_pylist()}
    assert len(in_process) == len(by_df) == len(FORGED)
    for r in in_process:
        assert (r["author"], r["sig"]) == by_df[r["subj"]]
        assert r["author"] == author
        assert r["sig"] == _plain_sig(key, fp_algo, r["subj"], r["pred"], r["obj"])


def test_insert_json_stores_verifiable_signatures(spark):
    key = b"parity-key"
    db = DegDB(spark, signing_key=key)
    assert db.insert_json(json.dumps(FORGED)) == len(FORGED)
    stored = db.store.table.to_pylist()
    assert all(r["sig"] == _plain_sig(key, "sha1", r["subj"], r["pred"], r["obj"]) for r in stored)
    # the Spark view serves the same signatures
    assert sorted((r["subj"], r["sig"]) for r in db.store.df.collect()) == sorted((r["subj"], r["sig"]) for r in stored)
