"""DegDB — the reference's user-facing API surface, Spark-backed.

Mirrors the HTTP endpoints of /root/reference/core/http.go:29-35
(/api/v1/{insert,query,triples,info}) as methods, so a degdb user's
workflow maps 1:1:

    db = DegDB(spark)
    db.insert_json('[{"subj": "...", "pred": "...", "obj": "..."}]')
    db.query_json('[{"subj": "/m/02mjmr"}]', limit=10)   # → list[dict]
    db.query_steps([...])                                 # path queries
    db.triples()                                          # full dump
    db.info()                                             # {"triples": N, ...}

Inserts, pattern reads, path queries, ``triples()`` and ``info()`` run
in-process over the store's driver-resident Arrow table, with no Spark
job and no Spark view: a JSON batch is parsed and signed in Arrow and
deduplicated against the store's key index, at a cost that grows with
the batch, not the store; reads and each hop of a path filter the table
by a ``pyarrow.compute`` mask. Only ``insert`` of a DataFrame (a bulk
load) runs one job, to materialise it, and ``DegDB(path=…)`` seeds the
store with ``pyarrow.parquet``.

Differences by design: signing is opt-in (pass a key) because Spark jobs
are trusted-perimeter. The node has no peers and no gossip: keyspace
routing lives in the sharded layout (operators/sharded.py), whose
shards are the arcs of the reference's murmur3_64 ring, and the node's
own inserts are not written there.
"""

from __future__ import annotations

import json
from datetime import datetime
from typing import Iterable, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from degdb_spark.functions.signing import sign_triples
from degdb_spark.operators.triplestore import TripleStore
from degdb_spark.plans.pattern import ArrayOp, parse_query_json, step_op
from degdb_spark.sources.json_triples import triples_from_json

#: response columns, in the order rows are rendered
_COLS = ["subj", "pred", "obj", "lang", "author", "sig", "created"]


def _local_iso(micros: int) -> str:
    """``created`` as ``collect()`` renders it (``TimestampType.fromInternal``):
    the naive datetime in the process's zone, ISO-formatted."""
    return datetime.fromtimestamp(micros // 1_000_000).replace(microsecond=micros % 1_000_000).isoformat()


class DegDB:
    """One node's worth of the degdb surface over a TripleStore."""

    def __init__(self, spark: SparkSession, path: str | None = None, signing_key: bytes | None = None):
        self.spark = spark
        self.store = TripleStore(spark, path=path)
        self.signing_key = signing_key

    # ---- POST /api/v1/insert (core/http.go:40-59) ----
    def insert_json(self, payload: str | Iterable[Mapping]) -> int:
        """Insert a JSON array of triples (or its parsed rows); returns
        the number added. Parsed, signed and deduplicated in-process."""
        return self.insert(triples_from_json(payload))

    def insert(self, rows: DataFrame | pa.Table) -> int:
        """Sign (with a key) and insert a batch; returns the number added.
        A DataFrame (a bulk load) is materialised once, its one Spark job."""
        if isinstance(rows, DataFrame):
            rows = rows.toArrow()
        if self.signing_key is not None:
            rows = sign_triples(rows, self.signing_key)  # W1/W2 (crypto.go:62-91)
        return self.store.insert(rows)

    # ---- GET /api/v1/query?q= (core/http.go:94-120) ----
    def query_json(self, q: str, limit: int = -1) -> list[dict]:
        patterns = parse_query_json(q)
        return self._dump(self.store.read(ArrayOp(triples=patterns), limit=limit))

    def query_array_op_json(self, q: str, limit: int = -1) -> list[dict]:
        """Full ArrayOp boolean-tree query as JSON — the binary
        protocol's QueryRequest form (protocol.proto:80-89):
        {"mode": "AND", "triples": [...], "arguments": [...]}."""
        op = ArrayOp.from_dict(json.loads(q))
        return self._dump(self.store.read(op, limit=limit))

    def query_steps(self, steps: Sequence[ArrayOp | Mapping | Iterable[Mapping]]) -> list[dict]:
        """Multi-step path query (ExecuteQuery's chaining,
        core/query.go:14-28), walked in-process with result dedup (fixing
        the reference's TODO at core/query.go:58). Each step is an ArrayOp
        (or its JSON form), a pattern dict or a list of pattern dicts."""
        return self._dump(self.store.read_path([step_op(s) for s in steps]))

    # ---- GET /api/v1/triples (core/http.go:122-130) ----
    def triples(self) -> list[dict]:
        return self._dump(self.store.sort_canonical())

    # ---- GET /api/v1/info (core/http.go + triplestore.go:150-170) ----
    def info(self) -> dict:
        return self.store.size()

    def _dump(self, rows: pa.Table) -> list[dict]:
        """Response rows: NULL fields omitted, ``created`` as a naive
        ISO string, rendered once per distinct value."""
        cols = [rows[c].to_pylist() for c in _COLS[:-1]]
        created = rows["created"].cast(pa.int64()).to_pylist()
        iso = {us: _local_iso(us) for us in set(created) if us is not None}
        out = []
        for *values, us in zip(*cols, created):
            d = {k: v for k, v in zip(_COLS, values) if v is not None}
            if us is not None:
                d["created"] = iso[us]
            out.append(d)
        return out

    def to_json(self, rows: list[dict]) -> str:
        return json.dumps(rows, sort_keys=True)
