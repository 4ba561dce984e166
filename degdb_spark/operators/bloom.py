"""Bloom-filter summaries — parity with the reference's node-sync bloom
(/root/reference/triplestore/bloom.go:13-73, scalable bloom @ FPR 1e-9,
~5.14 MB per 1M triples per triplestore.go:19-22).

Design: double hashing (Kirsch-Mitzenmacher) — position_i = (h1 + i·h2)
mod m over k slots — with h1/h2 computed JVM-side (xxhash64 with two
seeds) and bit-setting done in a vectorized Arrow-batched pandas UDF.
Each partition emits one m/8-byte bitset; the partials are OR-merged
executor-side in a tree of mapInPandas rounds (the treeAggregate
shape) down to ONE row before anything is collected, so the driver —
and every merge task — holds a bounded number of bitsets no matter
how many partitions fed the build.

`might_contain` broadcasts the filter bytes and checks membership
vectorized; `triples_matching_bloom` is the TriplesMatchingBloom
round-trip (bloom.go:39-73): stream the store, keep rows the filter
recognises.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def optimal_params(n_items: int, fpr: float = 1e-9) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate."""
    m = max(64, int(-n_items * math.log(fpr) / (math.log(2) ** 2)))
    k = max(1, round(m / max(n_items, 1) * math.log(2)))
    return m, k


def _hash_cols(key_cols: list[str]):
    cols = [F.col(c) for c in key_cols]
    return (
        F.xxhash64(*cols, F.lit(1)).alias("_h1"),
        F.xxhash64(*cols, F.lit(2)).alias("_h2"),
    )


@dataclass(frozen=True)
class BloomFilter:
    """Filter bytes WITH their (m, k) parameters — membership checked
    with mismatched parameters is silently meaningless, so the params
    travel with the bits (same policy as the sharded layout's recorded
    hash and shard count)."""

    bits: bytes
    m_bits: int
    k: int


def _or_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """OR every bitset row in this partition into one row (empty
    partitions yield nothing). One merge round of the tree."""
    acc: np.ndarray | None = None
    for pdf in batches:
        for raw in pdf["bits"]:
            arr = np.frombuffer(raw, dtype=np.uint8)
            acc = arr.copy() if acc is None else acc | arr
    if acc is not None:
        yield pd.DataFrame({"bits": [acc.tobytes()]})


def _tree_or(partials: DataFrame, n_partials: int, fanin: int = 16) -> DataFrame:
    """OR-merge a frame of bitset rows down to AT MOST ONE row through
    repartition+mapInPandas rounds of fan-in ``fanin`` — the
    treeAggregate shape. ``n_partials`` may be an ESTIMATE (≥2 for any
    possibly-multi-partition input): the final round is always a
    repartition(1) that merges everything, and an undercounted
    schedule only means some merge task receives more than ``fanin``
    rows — memory stays ~2 bitsets per task because _or_partition ORs
    incrementally as rows stream in. With an exact count the classic
    bound holds: ≤ ``fanin`` rows per task, ⌈log_fanin(n)⌉ rounds."""
    n = max(1, n_partials)
    while n > 1:
        n = math.ceil(n / fanin)
        partials = partials.repartition(n).mapInPandas(_or_partition, "bits binary")
    return partials


def build_bloom(
    df: DataFrame, key_cols: list[str], m_bits: int, k: int, fanin: int = 16
) -> BloomFilter:
    """Build the filter over the given key columns.

    Driver-memory contract: partition partials are tree-merged
    executor-side (_tree_or), so exactly one bitset-sized row is ever
    collected — the old collect-all-partials shape held n_partitions ×
    m_bits/8 bytes of driver transients, a multi-GB hazard when m_bits
    is sized for 10¹²-key corpora. Matches the reference's
    scalable-bloom intent (triplestore/bloom.go:13-37)."""
    hashed = df.select(*_hash_cols(key_cols))
    n_bytes = (m_bits + 7) // 8

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(n_bytes, dtype=np.uint8)
        touched = False
        for pdf in batches:
            touched = True
            h1 = pdf["_h1"].to_numpy().astype(np.uint64)
            h2 = pdf["_h2"].to_numpy().astype(np.uint64)
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
                np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        if touched:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    partials = hashed.mapInPandas(part, "bits binary")
    # schedule basis: an ESTIMATE of the partial count is enough —
    # _or_partition ORs incrementally (peak ~2 bitsets per task), so an
    # undercount only widens a merge round, never breaks correctness
    # (the ≤1-bitset raise below still guards the collect). Using
    # defaultParallelism avoids instantiating the RDD lineage that
    # hashed.rdd.getNumPartitions() would force. The max(2, ...) is
    # load-bearing: an estimate of 1 would skip merging entirely and
    # trip the raise whenever the input really has >1 partition (e.g.
    # a repartitioned frame on a local[1] master), while any estimate
    # ≥2 ends in a repartition(1) round that merges EVERYTHING
    # regardless of the true count.
    est_partials = max(2, df.sparkSession.sparkContext.defaultParallelism)
    merged = _tree_or(partials, est_partials, fanin)
    rows = merged.collect()
    if len(rows) > 1:  # explicit raise, not assert: a partial-bitset
        # filter would produce FALSE NEGATIVES, and `python -O` strips
        # asserts — this contract must hold even under optimization
        raise RuntimeError(f"bloom tree merge must leave ≤1 bitset, got {len(rows)}")
    if not rows:
        return BloomFilter(bytes(n_bytes), m_bits, k)
    return BloomFilter(bytes(rows[0]["bits"]), m_bits, k)


def might_contain(df: DataFrame, bloom: BloomFilter, key_cols: list[str]) -> DataFrame:
    """Adds boolean ``_in_bloom`` (true ⇒ maybe member, false ⇒ definitely
    not). Filter bytes ride the closure → broadcast once per executor."""
    bits = np.frombuffer(bloom.bits, dtype=np.uint8)
    m_bits, k = bloom.m_bits, bloom.k

    @F.pandas_udf("boolean")
    def _check(h1: pd.Series, h2: pd.Series) -> pd.Series:
        a = h1.to_numpy().astype(np.uint64)
        b = h2.to_numpy().astype(np.uint64)
        ok = np.ones(len(a), dtype=bool)
        for i in range(k):
            pos = (a + np.uint64(i) * b) % np.uint64(m_bits)
            ok &= (bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0
        return pd.Series(ok)

    h1, h2 = _hash_cols(key_cols)
    return df.withColumn("_in_bloom", _check(h1, h2))


def triples_matching_bloom(store_df: DataFrame, bloom: BloomFilter) -> DataFrame:
    """Rows of the store whose (subj,pred,obj) the filter recognises —
    the node-sync round-trip (bloom.go:39-73)."""
    out = might_contain(store_df, bloom, ["subj", "pred", "obj"])
    return out.filter(F.col("_in_bloom")).drop("_in_bloom")
