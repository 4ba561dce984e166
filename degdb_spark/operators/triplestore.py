"""TripleStore — the reference's storage + query surface.

Capability parity with /root/reference/triplestore/triplestore.go:

- ``insert``       → idempotent set-semantics insert (unique (subj,pred,obj)
                     index, triplestore.go:42,134-148), probing a key-hash
                     index beside the table.
- ``read``         → boolean pattern tree w/ limit (triplestore.go:49-77),
                     in-process, no Spark job.
- ``read_path``    → a multi-step path (core/query.go:14-28), in-process,
                     no Spark job.
- ``query``/``query_array_op`` → the same reads as Spark DataFrames over
                     ``df``, for plans that go on to join.
- ``size``         → count + storage stats (triplestore.go:150-170).
- ``sort_canonical`` → the full dump in canonical key order.

The Bloom semi-join (bloom.go:39-73) is ``bloom.triples_matching_bloom``
over ``df``.

Storage: the store is one driver-resident ``pyarrow.Table`` — the node's
local store, as each degdb node keeps its triples in its own SQLite file
(triplestore.go:35-43). ``path`` seeds it from a parquet directory once,
at construction, read with ``pyarrow.parquet``; inserts are never
written back.

The table is a list of chunks in insertion order, each with a key index:
the sorted hashes of its non-NULL ``(subj, pred, obj)`` keys and the row
of each. An insert hashes its batch, probes every chunk's hashes, checks
each hit against the stored key in that chunk, and appends the fresh rows
as a new chunk, so it costs O(batch · chunks · log n) and never scans or
copies the whole store. The last two chunks merge while the newer holds
at least half the rows of the older, which keeps O(log n) chunks. The
table and its index are swapped in together as one immutable snapshot.
No insert runs a Spark job, except that a DataFrame batch (a bulk load)
runs one, to materialise it. Pattern reads and each hop of a path
evaluate the ArrayOp with ``pyarrow.compute`` kernels
(``plans.pattern.eval_op``) and filter in-process. ``df`` is a Spark
view of the table for Catalyst plans (the Catalyst traversal, Bloom
sync, ``write_sharded``), built on every access and cached nowhere, so
the table is the store's one copy: the view's rows live in the JVM only
while a plan that uses it does.
Subject-sharded layouts live in operators/sharded.py.
"""

from __future__ import annotations

import os
import time
from typing import Iterable, Mapping, NamedTuple, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession

from degdb_spark.plans.pattern import OR, ArrayOp, compile_array_op, eval_op
from degdb_spark.schemas import ARROW_SCHEMA, TRIPLE_KEY, TRIPLE_SCHEMA, conform_triples


def _key_hash(key: tuple) -> int:
    """Index hash of one ``(subj, pred, obj)`` key. Python's
    ``hash`` is enough for an index that lives in memory and is rebuilt at
    start-up; an index persisted beside the rows would need a stable hash,
    such as ``functions/murmur3.py``'s twin of the reference's."""
    return hash(key)


def _keys(rows: pa.Table | pa.RecordBatch) -> list[tuple]:
    """The rows' ``(subj, pred, obj)`` keys; a NULL field is ``None``."""
    return list(zip(*(rows[c].to_numpy(zero_copy_only=False) for c in TRIPLE_KEY)))


def _first_rows(rows: pa.Table) -> dict[tuple, int]:
    """Each distinct key of ``rows`` (NULL fields equal) and the row of its
    first occurrence, in row order."""
    first: dict[tuple, int] = {}
    for i, key in enumerate(_keys(rows)):
        first.setdefault(key, i)
    return first


class _Hashed(NamedTuple):
    """Keys with the index hash of each; ``indexed`` marks the keys with
    no NULL field, the only ones the index holds or probes for."""

    keys: list[tuple]
    hashes: np.ndarray
    indexed: np.ndarray

    @staticmethod
    def of(keys: list[tuple]) -> "_Hashed":
        n = len(keys)
        return _Hashed(
            keys,
            np.fromiter(map(_key_hash, keys), np.int64, n),
            np.fromiter((None not in k for k in keys), bool, n),
        )

    def where(self, mask: np.ndarray) -> "_Hashed":
        return _Hashed([k for k, m in zip(self.keys, mask) if m], self.hashes[mask], self.indexed[mask])


class _Chunk(NamedTuple):
    """A run of the store's rows, in insertion order, with its key index."""

    rows: pa.RecordBatch
    hashes: np.ndarray  # sorted int64 hashes of the run's non-NULL keys
    ids: np.ndarray  # the row in ``rows`` of each hash


def _chunk(rows: pa.RecordBatch, keys: _Hashed) -> _Chunk:
    """Index ``rows``, whose keys are ``keys``. A key with a NULL field is
    left out: it never equals a stored key."""
    ids = np.flatnonzero(keys.indexed)
    hashes = keys.hashes[ids]
    order = np.argsort(hashes, kind="stable")
    return _Chunk(rows, hashes[order], ids[order])


def _merge(a: _Chunk, b: _Chunk) -> _Chunk:
    rows = pa.Table.from_batches([a.rows, b.rows]).combine_chunks().to_batches()[0]
    hashes = np.concatenate([a.hashes, b.hashes])
    ids = np.concatenate([a.ids, b.ids + a.rows.num_rows])
    order = np.argsort(hashes, kind="stable")  # a merge of two sorted runs
    return _Chunk(rows, hashes[order], ids[order])


def _stored(chunks: Iterable[_Chunk], keys: _Hashed) -> np.ndarray:
    """Mask of the ``keys`` already stored. A hash hit counts only once
    the stored key, read from its own chunk, equals the probed one, so a
    collision never drops a fresh key; a key with a NULL field is never
    stored."""
    found = np.zeros(len(keys.keys), bool)
    probe = np.flatnonzero(keys.indexed)
    # sorted probes let each binary search start where the last one ended
    probe = probe[np.argsort(keys.hashes[probe])]
    hashes = keys.hashes[probe]
    for c in chunks:
        lo = np.searchsorted(c.hashes, hashes, "left")
        n = np.searchsorted(c.hashes, hashes, "right") - lo
        if not n.any():
            continue
        # every (probed key, stored row) pair with equal hashes
        probed = probe[np.repeat(np.arange(len(probe)), n)]
        pos = np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())
        hits = c.rows.select(TRIPLE_KEY).take(c.ids[pos])
        for i, key in zip(probed, _keys(hits)):
            if keys.keys[i] == key:
                found[i] = True
    return found


class _Snapshot(NamedTuple):
    """The store at one version: its chunks and the table they make up."""

    chunks: tuple[_Chunk, ...]
    table: pa.Table

    @staticmethod
    def of(chunks: Iterable[_Chunk]) -> "_Snapshot":
        chunks = tuple(chunks)
        return _Snapshot(chunks, pa.Table.from_batches([c.rows for c in chunks], schema=ARROW_SCHEMA))

    def append(self, new: _Chunk) -> "_Snapshot":
        """Add ``new`` as the last chunk, then merge the last two while the
        newer holds at least half the rows of the older."""
        chunks = [*self.chunks, new]
        while len(chunks) > 1 and 2 * chunks[-1].rows.num_rows >= chunks[-2].rows.num_rows:
            chunks[-2:] = [_merge(*chunks[-2:])]
        return _Snapshot.of(chunks)


def read_parquet(path: str) -> pa.Table:
    """A parquet directory (or file) in ARROW_SCHEMA, as Spark's
    ``read.schema(TRIPLE_SCHEMA).parquet`` reads it: a column a file lacks
    is NULL, files named ``_*`` or ``.*`` are skipped, and an INT96 or
    micros ``created`` becomes ``timestamp[us, UTC]``."""
    files = ds.dataset(path, format="parquet").get_fragments()
    return pa.concat_tables(
        [conform_triples(f.to_table()) for f in files] or [ARROW_SCHEMA.empty_table()]
    )


class TripleStore:
    """Driver-resident universal triple table."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        seed = read_parquet(path) if path is not None else ARROW_SCHEMA.empty_table()
        seed = seed.combine_chunks().to_batches()
        self._snap = _Snapshot.of(_chunk(b, _Hashed.of(_keys(b))) for b in seed)

    @property
    def table(self) -> pa.Table:
        """The store itself; never mutated, only replaced by ``insert``."""
        return self._snap.table

    @property
    def df(self) -> DataFrame:
        """Spark view of the current table, built on every access and held
        by nothing here: its rows stay in the JVM only while the caller's
        plan does. Each access pays one ``createDataFrame`` (about 50 ms
        wall at 16.6k rows), so take it once per Catalyst plan."""
        return self.spark.createDataFrame(self.table, schema=TRIPLE_SCHEMA)

    def insert(self, new: DataFrame | pa.Table) -> int:
        """Idempotent insert with set semantics on (subj,pred,obj).

        Mirrors Insert (triplestore.go:134-148): duplicates — within the
        batch or vs the existing store — are silently skipped; returns the
        number of rows actually added. Within the batch the first
        occurrence of a key is kept, NULL fields comparing equal; against
        the store a key with a NULL field never matches, so such a row is
        added once per batch. The fresh rows keep their batch order and
        are appended as a new chunk; the key index is probed, never the
        whole table. ``created`` is stamped server-side when absent
        (core/http.go:64-69), with one clock reading per batch. A
        DataFrame batch is materialised once (``toArrow``); nothing is
        persisted.
        """
        batch = conform_triples(new.toArrow() if isinstance(new, DataFrame) else new)
        first = _first_rows(batch)
        keys = _Hashed.of(list(first))
        fresh = ~_stored(self._snap.chunks, keys)
        rows = batch.take(np.fromiter(first.values(), np.int64, len(first))[fresh])
        if rows.num_rows:
            created = ARROW_SCHEMA.field("created")
            now = pa.scalar(time.time_ns() // 1000, created.type)
            rows = rows.set_column(
                ARROW_SCHEMA.get_field_index("created"), created, pc.coalesce(rows["created"], now)
            )
            rows = rows.combine_chunks().to_batches()[0]
            self._snap = self._snap.append(_chunk(rows, keys.where(fresh)))
        return rows.num_rows

    # --------------------------------------------------------------- query
    def read(self, op: ArrayOp | Mapping, limit: int = -1) -> pa.Table:
        """Boolean pattern tree filtered in-process by its kernel mask, no
        Spark job (QueryArrayOp, triplestore.go:62-77; limit<=0 →
        unlimited). Rows come back in insertion order."""
        table = self.table
        out = table.filter(eval_op(op, table))
        return out.slice(0, limit) if limit and limit > 0 else out

    def read_path(self, ops: Sequence[ArrayOp]) -> pa.Table:
        """Multi-step path over one snapshot, in-process, no Spark job
        (ExecuteQuery's loop, core/query.go:14-28): each step keeps the
        rows its op selects whose ``subj`` is a non-NULL ``obj`` of the
        step before (the reference's AND(step, OR(subj = prev.obj …))).
        Returns the last step's rows, one per ``(subj, pred, obj)`` with
        NULLs equal (fixing the reference's TODO at core/query.go:58),
        first occurrence kept. Raises ValueError on no steps."""
        if not ops:
            raise ValueError("at least one step required")
        table = self.table
        rows = None
        for op in ops:
            mask = eval_op(op, table)
            if rows is not None:
                frontier = pc.unique(rows["obj"].drop_null())
                mask = pc.and_kleene(mask, pc.is_in(table["subj"], value_set=frontier))
            rows = table.filter(mask)
        first = _first_rows(rows)
        return rows.take(np.fromiter(first.values(), np.int64, len(first)))

    def query(self, patterns: Iterable[Mapping[str, str]] | Mapping[str, str], limit: int = -1) -> DataFrame:
        """Pattern-list query on the Spark view: OR of patterns (the HTTP
        entry's wrapping, core/http.go:108-113), LIMIT per
        QueryRequest.limit (triplestore.go:68-71; limit<=0 → unlimited)."""
        if isinstance(patterns, Mapping):
            patterns = [patterns]
        return self.query_array_op(ArrayOp(mode=OR, triples=list(patterns)), limit=limit)

    def query_array_op(self, op: ArrayOp | Mapping, limit: int = -1) -> DataFrame:
        """Boolean pattern tree on the Spark view (QueryArrayOp,
        triplestore.go:62-77)."""
        out = self.df.filter(compile_array_op(op))
        if limit and limit > 0:
            out = out.limit(limit)
        return out

    # ---------------------------------------------------------------- stats
    def size(self) -> dict:
        """Count + storage stats (Size, triplestore.go:150-170)."""
        disk = 0
        if self.path and os.path.isdir(self.path):
            for root, _, files in os.walk(self.path):
                disk += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {"triples": self.table.num_rows, "disk_size_bytes": disk}

    def sort_canonical(self) -> pa.Table:
        """The store in lexicographic (subj, pred, obj) canonical order
        (protocol/protocol.go:28-52), NULLs first as in Spark's orderBy."""
        order = [(k, "ascending") for k in ("subj", "pred", "obj")]
        return self.table.sort_by(order, null_placement="at_start")
