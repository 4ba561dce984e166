"""TripleStore — the reference's storage + query surface.

Capability parity with /root/reference/triplestore/triplestore.go:

- ``insert``       → idempotent set-semantics insert (unique (subj,pred,obj)
                     index, triplestore.go:42,134-148) as a left-anti join.
- ``read``         → boolean pattern tree w/ limit (triplestore.go:49-77),
                     in-process, no Spark job.
- ``query``/``query_array_op`` → the same reads as Spark DataFrames, for
                     plans that go on to join (traversal, Bloom sync).
- ``each_triple_batch`` → batched full scan (triplestore.go:172-195).
- ``size``         → count + storage stats (triplestore.go:150-170).
- ``matching_bloom`` → bloom semi-join (bloom.go:39-73), expressed as a
                     left-semi join on the triple key.

Storage: the store is one driver-resident ``pyarrow.Table`` — the node's
local store, as each degdb node keeps its triples in its own SQLite file
(triplestore.go:35-43). ``path`` seeds it from a parquet directory once,
at construction; inserts are never written back. An insert anti-joins
its Arrow batch against the store's keys in Arrow and swaps in the
appended table, with no Spark job; only a DataFrame batch (a bulk load)
runs one, to materialise it. Pattern reads compile the ArrayOp
to a ``pyarrow.compute`` expression and filter in-process. ``df`` is a
Spark view of the table, built once per store version, for Catalyst
plans. Subject-sharded layouts live in operators/sharded.py.
"""

from __future__ import annotations

import os
import time
from typing import Iterable, Mapping

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession

from degdb_spark.plans.pattern import OR, ArrayOp, compile_array_op, compile_arrow_op
from degdb_spark.schemas import ARROW_SCHEMA, TRIPLE_KEY, TRIPLE_SCHEMA, conform_triples


class TripleStore:
    """Driver-resident universal triple table with a Spark view."""

    def __init__(self, spark: SparkSession, df: DataFrame | None = None, path: str | None = None):
        self.spark = spark
        self.path = path
        if df is None and path is not None:
            df = spark.read.schema(TRIPLE_SCHEMA).parquet(path)
        self._table = ARROW_SCHEMA.empty_table() if df is None else conform_triples(df.toArrow())
        self._df: DataFrame | None = None

    # ------------------------------------------------------------------ io
    @staticmethod
    def from_rows(spark: SparkSession, rows: Iterable[Mapping[str, str]]) -> "TripleStore":
        """Build from partial-triple dicts (missing fields → NULL)."""
        store = TripleStore(spark)
        store.insert(pa.Table.from_pylist(list(rows), schema=ARROW_SCHEMA))
        return store

    @property
    def table(self) -> pa.Table:
        """The store itself; never mutated, only replaced by ``insert``."""
        return self._table

    @property
    def df(self) -> DataFrame:
        """Spark view of the current table, built on first use after each
        insert."""
        if self._df is None:
            self._df = self.spark.createDataFrame(self._table, schema=TRIPLE_SCHEMA)
        return self._df

    def insert(self, new: DataFrame | pa.Table) -> int:
        """Idempotent insert with set semantics on (subj,pred,obj).

        Mirrors Insert (triplestore.go:134-148): duplicates — within the
        batch or vs the existing store — are silently skipped; returns the
        number of rows actually added. ``created`` is stamped server-side
        when absent (core/http.go:64-69), with one clock reading per batch.
        A DataFrame batch is materialised once (``toArrow``); nothing is
        persisted.
        """
        batch = conform_triples(new.toArrow() if isinstance(new, DataFrame) else new)
        created = ARROW_SCHEMA.field("created")
        now = pa.scalar(time.time_ns() // 1000, created.type)
        batch = batch.set_column(
            ARROW_SCHEMA.get_field_index("created"), created, pc.coalesce(batch["created"], now)
        )
        # in-batch dedup on the key, keeping the first occurrence (NULL
        # keys group together, as in Spark's dropDuplicates)
        first = (
            batch.select(TRIPLE_KEY)
            .append_column("_row", pa.array(np.arange(batch.num_rows)))
            .group_by(TRIPLE_KEY)
            .aggregate([("_row", "min")])["_row_min"]
        )
        batch = batch.take(np.sort(first.to_numpy()))
        # a NULL key never equals a stored one, as in Spark's anti-join
        fresh = batch.join(
            self._table.select(TRIPLE_KEY), keys=TRIPLE_KEY, join_type="left anti"
        ).cast(ARROW_SCHEMA)
        # one chunk, so a read's cost and row order do not depend on how
        # many inserts built the store
        self._table = pa.concat_tables([self._table, fresh]).combine_chunks()
        self._df = None
        return fresh.num_rows

    # --------------------------------------------------------------- query
    def read(self, op: ArrayOp | Mapping, limit: int = -1) -> pa.Table:
        """Boolean pattern tree filtered in-process with its Arrow
        compilation, no Spark job (QueryArrayOp, triplestore.go:62-77;
        limit<=0 → unlimited)."""
        out = self._table.filter(compile_arrow_op(op))
        return out.slice(0, limit) if limit and limit > 0 else out

    def query(self, patterns: Iterable[Mapping[str, str]] | Mapping[str, str], limit: int = -1) -> DataFrame:
        """Pattern-list query on the Spark view: OR of patterns (the HTTP
        entry's wrapping, core/http.go:108-113), LIMIT per
        QueryRequest.limit (triplestore.go:68-71; limit<=0 → unlimited)."""
        if isinstance(patterns, Mapping):
            patterns = [patterns]
        return self.query_array_op(ArrayOp(mode=OR, triples=list(patterns)), limit=limit)

    def query_array_op(self, op: ArrayOp | Mapping | Column, limit: int = -1) -> DataFrame:
        """Boolean pattern tree on the Spark view (QueryArrayOp,
        triplestore.go:62-77)."""
        pred = op if isinstance(op, Column) else compile_array_op(op)
        out = self.df.filter(pred)
        if limit and limit > 0:
            out = out.limit(limit)
        return out

    # ---------------------------------------------------------------- scan
    def each_triple_batch(self, batch_size: int = 1000):
        """Batched full scan (EachTripleBatch, triplestore.go:172-195):
        lists of triple dicts of ``batch_size`` — the reference's
        LIMIT/OFFSET pages over the driver-resident table."""
        for start in range(0, self._table.num_rows, batch_size):
            yield self._table.slice(start, batch_size).to_pylist()

    def size(self) -> dict:
        """Count + storage stats (Size, triplestore.go:150-170)."""
        disk = 0
        if self.path and os.path.isdir(self.path):
            for root, _, files in os.walk(self.path):
                disk += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {"triples": self._table.num_rows, "disk_size_bytes": disk}

    # --------------------------------------------------------------- bloom
    def matching_bloom(self, other_keys: DataFrame) -> DataFrame:
        """Triples present in another node's summary (TriplesMatchingBloom,
        bloom.go:39-73) — expressed exactly: a left-semi join on the triple
        key. At scale Spark's runtime bloom-filter join
        (spark.sql.optimizer.runtime.bloomFilter.enabled) builds the actual
        bloom on the small side automatically."""
        return self.df.join(
            other_keys.select(TRIPLE_KEY), on=TRIPLE_KEY, how="left_semi"
        )

    def sort_canonical(self) -> pa.Table:
        """The store in lexicographic (subj, pred, obj) canonical order
        (protocol/protocol.go:28-52), NULLs first as in Spark's orderBy."""
        order = [(k, "ascending") for k in ("subj", "pred", "obj")]
        return self._table.sort_by(order, null_placement="at_start")
