"""Sharded triple-store layout — degdb's keyspace routing over a
directory of shards.

In degdb a triple belongs to the peer whose arc of the uint64 ring holds
murmur3_64(subj) (the reference's core/http.go:70,
network/network.go:283-289, protocol/keyspace.go), and a rooted query
contacts only that peer (query/query.go:24-47). The layout cuts the ring
into ``N_SHARDS`` equal arcs, ``shard = murmur3_64(subj) >> 59`` (the top
five bits), and writes each shard's rows under a hive ``shard=<i>/``
directory. A rooted read opens only the directories that own its
subjects; a keyspace scan opens only the shards its arc meets
(plans/keyspace.keyspace_shards_range). Both run in-process over Arrow,
and only the DataFrame they return touches Spark; ``spark.read.parquet``
still reads the layout, with an int ``shard`` column.

The hash and the shard count are constants recorded in the layout's
``_degdb_meta.json``; a reader refuses a layout recorded otherwise
rather than misroute. The layout is written whole by ``write_sharded``;
the node's insert path (operators/triplestore.py) does not write it.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from degdb_spark.functions.murmur3 import murmur3_64
from degdb_spark.operators.triplestore import read_parquet
from degdb_spark.plans.keyspace import Keyspace, keyspace_shards_range
from degdb_spark.schemas import ARROW_SCHEMA, TRIPLE_SCHEMA

N_SHARDS = 32
_SHIFT = 64 - (N_SHARDS.bit_length() - 1)
#: what ``_degdb_meta.json`` records; readers refuse any other layout
LAYOUT = {"n_shards": N_SHARDS, "algo": "murmur3_64", "scheme": "range"}
#: where rows with a NULL ``subj`` go; no read returns them
_NULL_SHARD = 0
_META = "_degdb_meta.json"


def shard_of(subj: str) -> int:
    """The shard owning ``subj``: the top bits of murmur3_64, so each
    shard is one contiguous arc of the reference's ring."""
    return murmur3_64(subj.encode("utf-8")) >> _SHIFT


def _per_subject(subj: pa.ChunkedArray, fn: Callable[[str], object], null) -> np.ndarray:
    """``fn(subj)`` for every row, evaluated once per distinct subject;
    ``null`` for a NULL subject."""
    enc = pc.dictionary_encode(subj.combine_chunks())
    values = np.array([fn(s) for s in enc.dictionary.to_pylist()] + [null])
    return values[pc.fill_null(enc.indices, len(enc.dictionary)).to_numpy()]


def write_sharded(df: DataFrame, path: str) -> None:
    """Persist ``df`` hive-partitioned by shard, one file per shard,
    replacing whatever ``path`` held. ``df`` is materialised once
    (``toArrow``, the write's only Spark job)."""
    table = df.toArrow()
    shard = _per_subject(table["subj"], shard_of, _NULL_SHARD)
    order = np.argsort(shard, kind="stable")
    table, shard = table.take(order), shard[order]
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    ids, starts = np.unique(shard, return_index=True)
    for i, lo, hi in zip(ids, starts, [*starts[1:], len(shard)]):
        part = os.path.join(path, f"shard={i}")
        os.makedirs(part)
        pq.write_table(table.slice(lo, hi - lo), os.path.join(part, "part-0.parquet"))
    with open(os.path.join(path, _META), "w") as f:
        json.dump(LAYOUT, f)


def layout_meta(path: str) -> dict | None:
    """The layout's ``_degdb_meta.json`` as written (None when absent)."""
    meta = os.path.join(path, _META)
    if not os.path.exists(meta):
        return None
    with open(meta) as f:
        return json.load(f)


def _read_shards(path: str, shards: Iterable[int]) -> pa.Table:
    """The rows of the given shards, in ARROW_SCHEMA; only their
    directories are opened."""
    recorded = layout_meta(path)
    if recorded != LAYOUT:
        raise ValueError(
            f"{path} records layout {recorded}, not {LAYOUT}; rewrite it with write_sharded"
        )
    parts = [os.path.join(path, f"shard={i}") for i in shards]
    return pa.concat_tables(
        [read_parquet(p) for p in parts if os.path.isdir(p)] or [ARROW_SCHEMA.empty_table()]
    )


def rooted_query(spark: SparkSession, path: str, subjects: list[str]) -> DataFrame:
    """The rows whose ``subj`` is one of ``subjects``, read from the
    shards that own them (the ``ShardQueryByHash`` equivalent — the
    routing table is the directory layout, not a peer list)."""
    table = _read_shards(path, sorted({shard_of(s) for s in subjects}))
    table = table.filter(pc.is_in(table["subj"], value_set=pa.array(subjects, pa.string())))
    return spark.createDataFrame(table, schema=TRIPLE_SCHEMA)


def keyspace_query(spark: SparkSession, path: str, ks: Keyspace | None) -> DataFrame:
    """Exactly the triples whose murmur3_64(subj) falls in a keyspace arc
    (protocol/keyspace.go Includes over a stored layout) — one peer's
    ownership range. Only the shards the arc meets are read; a nil
    keyspace includes nothing (keyspace.go:5-7)."""
    shards = keyspace_shards_range(ks, N_SHARDS)  # None: every shard
    table = _read_shards(path, range(N_SHARDS) if shards is None else shards)
    # a nil keyspace meets no shard, so ``includes`` never sees it
    owned = _per_subject(table["subj"], lambda s: ks.includes(murmur3_64(s.encode("utf-8"))), False)
    return spark.createDataFrame(table.filter(pa.array(owned, pa.bool_())), schema=TRIPLE_SCHEMA)
