"""Bloom-filter summaries — parity with the reference's node-sync bloom
(/root/reference/triplestore/bloom.go:13-73, scalable bloom @ FPR 1e-9,
~5.14 MB per 1M triples per triplestore.go:19-22).

Design: double hashing (Kirsch-Mitzenmacher) — position_i = (h1 + i·h2)
mod m over k slots — with h1/h2 computed JVM-side (xxhash64 with two
seeds). ``_slots`` is the one statement of the slot formula and the
byte/mask layout; the build and the membership check both use it.

`build_bloom` is one in-process pass, like the reference's: one Spark
job (``toArrow``) brings the two hash columns to the driver, which sets
the bits in numpy — 16 bytes per key held while it builds.
`might_contain` broadcasts the filter bytes and checks membership in a
vectorized pandas UDF; `triples_matching_bloom` is the
TriplesMatchingBloom round-trip (bloom.go:39-73): stream the store,
keep rows the filter recognises.
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


def _slots(
    h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Each key's k filter slots as (byte index, bit mask) pairs, one
    pair of arrays per i: bit ``pos % 8`` of byte ``pos // 8`` with
    pos = (h1 + i·h2) mod m over the hashes read as uint64."""
    a = h1.astype(np.uint64)
    b = h2.astype(np.uint64)
    for i in range(k):
        pos = (a + np.uint64(i) * b) % np.uint64(m_bits)
        yield pos // 8, (1 << (pos % 8)).astype(np.uint8)


@dataclass(frozen=True)
class BloomFilter:
    """Filter bytes WITH their (m, k) parameters — membership checked
    with mismatched parameters is silently meaningless, so the params
    travel with the bits (same policy as the sharded layout's recorded
    hash and shard count)."""

    bits: bytes
    m_bits: int
    k: int


def build_bloom(df: DataFrame, key_cols: list[str], m_bits: int, k: int) -> BloomFilter:
    """Build the filter over the given key columns: one Spark job
    (``toArrow`` of the two hash columns), bits set on the driver one
    Arrow batch at a time."""
    bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    for batch in df.select(*_hash_cols(key_cols)).toArrow().to_batches():
        h1 = batch.column("_h1").to_numpy()
        h2 = batch.column("_h2").to_numpy()
        for byte, mask in _slots(h1, h2, m_bits, k):
            np.bitwise_or.at(bits, byte, mask)
    return BloomFilter(bits.tobytes(), m_bits, k)


def might_contain(df: DataFrame, bloom: BloomFilter, key_cols: list[str]) -> DataFrame:
    """Adds boolean ``_in_bloom`` (true ⇒ maybe member, false ⇒ definitely
    not). Filter bytes ride the closure → broadcast once per executor."""
    bits = np.frombuffer(bloom.bits, dtype=np.uint8)
    m_bits, k = bloom.m_bits, bloom.k

    @F.pandas_udf("boolean")
    def _check(h1: pd.Series, h2: pd.Series) -> pd.Series:
        ok = np.ones(len(h1), dtype=bool)
        for byte, mask in _slots(h1.to_numpy(), h2.to_numpy(), m_bits, k):
            ok &= (bits[byte] & mask) != 0
        return pd.Series(ok)

    h1, h2 = _hash_cols(key_cols)
    return df.withColumn("_in_bloom", _check(h1, h2))


def triples_matching_bloom(store_df: DataFrame, bloom: BloomFilter) -> DataFrame:
    """Rows of the store whose (subj,pred,obj) the filter recognises —
    the node-sync round-trip (bloom.go:39-73)."""
    out = might_contain(store_df, bloom, ["subj", "pred", "obj"])
    return out.filter(F.col("_in_bloom")).drop("_in_bloom")
