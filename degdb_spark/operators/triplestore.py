"""TripleStore — the reference's storage + query surface, Spark-first.

Capability parity with /root/reference/triplestore/triplestore.go:

- ``insert``       → idempotent set-semantics insert (unique (subj,pred,obj)
                     index, triplestore.go:42,134-148) as a left-anti join.
- ``query``        → pattern list w/ limit (triplestore.go:49-59).
- ``query_array_op`` → boolean tree execution (triplestore.go:62-77).
- ``each_triple_batch`` → batched full scan (triplestore.go:172-195).
- ``size``         → count + storage stats (triplestore.go:150-170).
- ``matching_bloom`` → bloom semi-join (bloom.go:39-73), expressed as a
                     left-semi join on the triple key.

Storage: the store is one in-memory DataFrame. ``path`` seeds it from a
parquet directory once, at construction; inserts are never written back.
Each insert is a left-anti join of the batch against the WHOLE store,
unioned on, and every 4th insert cuts the lineage so plans stay shallow.
Subject-sharded layouts live in operators/sharded.py.
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from degdb_spark.plans.pattern import ArrayOp, compile_array_op
from degdb_spark.schemas import TRIPLE_KEY, TRIPLE_SCHEMA
from degdb_spark.persistence import lineage_cut


class TripleStore:
    """In-memory/parquet-backed universal triple table."""

    def __init__(self, spark: SparkSession, df: DataFrame | None = None, path: str | None = None):
        self.spark = spark
        self.path = path
        if df is None and path is not None:
            df = spark.read.schema(TRIPLE_SCHEMA).parquet(path)
        if df is None:
            df = spark.createDataFrame([], schema=TRIPLE_SCHEMA)
        self._df = df
        self._inserts_since_checkpoint = 0

    # ------------------------------------------------------------------ io
    @staticmethod
    def from_rows(spark: SparkSession, rows: Iterable[Mapping[str, str]]) -> "TripleStore":
        """Build from partial-triple dicts (missing fields → NULL)."""
        full = [
            {f.name: r.get(f.name) for f in TRIPLE_SCHEMA.fields} for r in rows
        ]
        df = spark.createDataFrame(full, schema=TRIPLE_SCHEMA)
        store = TripleStore(spark)
        store.insert(df)
        return store

    @property
    def df(self) -> DataFrame:
        return self._df

    def insert(self, new: DataFrame) -> int:
        """Idempotent insert with set semantics on (subj,pred,obj).

        Mirrors Insert (triplestore.go:134-148): duplicates — within the
        batch or vs the existing store — are silently skipped; returns the
        number of rows actually added. ``created`` is stamped server-side
        when absent (core/http.go:64-69). The batch is anti-joined against
        the whole store; nothing is persisted.
        """
        for f in TRIPLE_SCHEMA.fields:
            if f.name not in new.columns:
                new = new.withColumn(f.name, F.lit(None).cast(f.dataType))
        new = new.select([f.name for f in TRIPLE_SCHEMA.fields])
        new = new.withColumn(
            "created", F.coalesce(F.col("created"), F.current_timestamp())
        )
        # in-batch dedup on the key, keeping the first occurrence
        new = new.dropDuplicates(TRIPLE_KEY)
        fresh = new.join(self._df.select(TRIPLE_KEY), on=TRIPLE_KEY, how="left_anti")
        # materialise BEFORE counting: current_timestamp() and the
        # dropDuplicates survivor choice are non-deterministic per action,
        # so without this the counted rows could differ from what later
        # queries actually see.
        fresh = fresh.transform(lineage_cut, eager=True)
        added = fresh.count()
        self._df = self._df.unionByName(fresh)
        # each insert nests the previous anti-join inside the next one's
        # plan; without truncation the plan grows super-linearly with
        # insert count (measured: 10 single-row inserts → 11 s each).
        self._inserts_since_checkpoint += 1
        if self._inserts_since_checkpoint >= 4:
            self._df = self._df.transform(lineage_cut, eager=True)
            self._inserts_since_checkpoint = 0
        return added

    # --------------------------------------------------------------- query
    def query(self, patterns: Iterable[Mapping[str, str]] | Mapping[str, str], limit: int = -1) -> DataFrame:
        """Pattern-list query: OR of patterns (the HTTP entry's wrapping,
        core/http.go:108-113), LIMIT per QueryRequest.limit
        (triplestore.go:68-71; limit<=0 → unlimited)."""
        if isinstance(patterns, Mapping):
            patterns = [patterns]
        op = ArrayOp(mode="OR", triples=list(patterns))
        return self.query_array_op(op, limit=limit)

    def query_array_op(self, op: ArrayOp | Mapping | Column, limit: int = -1) -> DataFrame:
        """Execute a boolean pattern tree (QueryArrayOp,
        triplestore.go:62-77)."""
        pred = op if isinstance(op, Column) else compile_array_op(op)
        out = self._df.filter(pred)
        if limit and limit > 0:
            out = out.limit(limit)
        return out

    # ---------------------------------------------------------------- scan
    def each_triple_batch(self, batch_size: int = 1000):
        """Batched full scan (EachTripleBatch, triplestore.go:172-195).

        Yields lists of Rows of ``batch_size``. Uses toLocalIterator so only
        one partition is resident on the driver at a time — the Spark
        analogue of the reference's LIMIT/OFFSET pages.
        """
        batch: list = []
        for row in self._df.toLocalIterator():
            batch.append(row)
            if len(batch) == batch_size:
                yield batch
                batch = []
        if batch:
            yield batch

    def size(self) -> dict:
        """Count + storage stats (Size, triplestore.go:150-170)."""
        import os

        disk = 0
        if self.path and os.path.isdir(self.path):
            for root, _, files in os.walk(self.path):
                disk += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {"triples": self._df.count(), "disk_size_bytes": disk}

    # --------------------------------------------------------------- bloom
    def matching_bloom(self, other_keys: DataFrame) -> DataFrame:
        """Triples present in another node's summary (TriplesMatchingBloom,
        bloom.go:39-73) — expressed exactly: a left-semi join on the triple
        key. At scale Spark's runtime bloom-filter join
        (spark.sql.optimizer.runtime.bloomFilter.enabled) builds the actual
        bloom on the small side automatically."""
        return self._df.join(
            other_keys.select(TRIPLE_KEY), on=TRIPLE_KEY, how="left_semi"
        )

    def sort_canonical(self, df: DataFrame | None = None) -> DataFrame:
        """Lexicographic (subj, pred, obj) canonical order
        (protocol/protocol.go:28-52)."""
        return (df if df is not None else self._df).orderBy("subj", "pred", "obj")
