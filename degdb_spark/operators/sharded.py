"""Sharded triple-store layout — degdb's keyspace routing as Spark
partition pruning.

The reference routes a rooted query to the peer owning
murmur3_64(subj) (/root/reference/query/query.go:24-47,
core/query.go:78-106). The Spark-native equivalent: persist the table
hive-partitioned by ``shard = pmod(xxhash64(subj), n_shards)`` and
derive the same shard expression from the query's subject constants at
read time — Catalyst's partition pruning then reads only the matching
directory, exactly as degdb contacts only the owning peer.

At 100 TB with n_shards≈4096 rooted point queries touch one shard
directory (plus row-group skipping inside it), and shard counts can be
re-chosen without logic changes. The layout is written whole by
``write_sharded``; the node's insert path (operators/triplestore.py)
does not write it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from degdb_spark.schemas import TRIPLE_SCHEMA

DEFAULT_SHARDS = 32

#: shard-hash algorithms: xxhash64 is the JVM-side default; murmur3_64
#: is byte-parity with the reference ring (core/http.go:70) via an
#: Arrow-batched UDF — a config switch for mixed degdb/Spark
#: deployments, not the hot path.
SHARD_ALGOS = ("xxhash64", "murmur3_64")

#: shard-id schemes: "mod" (hash % n — balanced residues, the default)
#: or "range" (top log2(n) hash bits — shards own contiguous keyspace
#: ARCS like degdb peers do, so keyspace-scoped scans prune partitions
#: proportionally to arc size; requires power-of-two n_shards).
SHARD_SCHEMES = ("mod", "range")


def _hash_column(subj_col, algo: str):
    if algo == "xxhash64":
        return F.xxhash64(subj_col)
    if algo == "murmur3_64":
        from degdb_spark.functions.murmur3 import murmur3_hash_udf

        return murmur3_hash_udf()(subj_col)
    raise ValueError(f"unknown shard algo {algo!r}; expected one of {SHARD_ALGOS}")


def shard_of(
    subj_col,
    n_shards: int = DEFAULT_SHARDS,
    algo: str = "xxhash64",
    scheme: str = "mod",
):
    """The shard id expression (keyspace-hash analogue of core/http.go:70)."""
    if scheme == "mod":
        if algo == "murmur3_64":
            # unsigned modulus, matching a live degdb ring's routing
            from degdb_spark.functions.murmur3 import murmur3_shard_udf

            return murmur3_shard_udf(n_shards)(subj_col)
        return F.pmod(_hash_column(subj_col, algo), F.lit(n_shards)).cast("int")
    if scheme == "range":
        if n_shards & (n_shards - 1):
            raise ValueError("range scheme requires power-of-two n_shards")
        shift = 64 - (n_shards.bit_length() - 1)
        return F.shiftrightunsigned(_hash_column(subj_col, algo), shift).cast("int")
    raise ValueError(f"unknown shard scheme {scheme!r}; expected one of {SHARD_SCHEMES}")


def write_sharded(
    df: DataFrame,
    path: str,
    n_shards: int = DEFAULT_SHARDS,
    algo: str = "xxhash64",
    scheme: str = "mod",
) -> None:
    """Persist hive-partitioned by shard; one file per shard partition
    per write (repartition on the same key first so a shard's rows are
    written by one task, not sprayed across all of them). The shard
    count is recorded in the layout — readers must hash with the same
    modulus or silently miss rows."""
    (
        df.withColumn("shard", shard_of(F.col("subj"), n_shards, algo, scheme))
        .repartition(n_shards, F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    import json
    import os

    with open(os.path.join(path, "_degdb_meta.json"), "w") as f:
        json.dump({"n_shards": n_shards, "algo": algo, "scheme": scheme}, f)


def layout_meta(path: str) -> tuple[int, str, str] | None:
    """(n_shards, algo, scheme) recorded at write time (None for
    foreign layouts)."""
    import json
    import os

    meta = os.path.join(path, "_degdb_meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            d = json.load(f)
        return int(d["n_shards"]), d.get("algo", "xxhash64"), d.get("scheme", "mod")
    return None


def read_sharded(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def rooted_query(
    spark: SparkSession,
    path: str,
    subjects: list[str],
    n_shards: int | None = None,
) -> DataFrame:
    """Rooted pattern query with shard routing: adds the shard-id filter
    derived from the subject constants, which Catalyst turns into
    partition pruning (the `ShardQueryByHash` equivalent — but the
    'routing table' is the directory layout, not a peer list).

    The modulus and hash algo come from the layout's own metadata;
    passing a mismatched n_shards would silently miss rows, so an
    explicit value is only honoured when the layout carries no metadata.
    """
    recorded = layout_meta(path)
    algo, scheme = "xxhash64", "mod"
    if recorded is not None:
        n_shards, algo, scheme = recorded
    elif n_shards is None:
        n_shards = DEFAULT_SHARDS
    df = read_sharded(spark, path)
    # compute the shard ids driver-side from the same hash expression
    shard_rows = (
        spark.createDataFrame([(s,) for s in subjects], ["subj"])
        .select(shard_of(F.col("subj"), n_shards, algo, scheme).alias("shard"))
        .distinct()
        .collect()
    )
    shards = sorted(r["shard"] for r in shard_rows)
    return df.filter(F.col("shard").isin(shards) & F.col("subj").isin(subjects)).drop(
        "shard"
    )


def keyspace_query(spark: SparkSession, path: str, ks) -> DataFrame:
    """Scan exactly the triples whose subj-hash falls in a keyspace arc
    (protocol/keyspace.go Includes over a stored layout) — the Spark
    analogue of fetching one peer's ownership range.

    Partition pruning: under the range scheme the arc maps to a
    contiguous run of shard dirs (plans/keyspace.keyspace_shards_range),
    so a half-ring query reads half the partitions; under the mod
    scheme residue pruning only bites for arcs smaller than n_shards,
    and the row-level hash predicate does the real filtering.
    """
    from degdb_spark.plans.keyspace import (
        includes_column,
        keyspace_shards,
        keyspace_shards_range,
    )

    recorded = layout_meta(path)
    n_shards, algo, scheme = recorded if recorded else (DEFAULT_SHARDS, "xxhash64", "mod")
    df = read_sharded(spark, path)
    if ks is None:  # nil keyspace includes nothing (keyspace.go:5-7)
        return df.filter(F.lit(False)).drop("shard")
    if scheme == "range":
        shard_ids = keyspace_shards_range(ks, n_shards)
    elif n_shards & (n_shards - 1) == 0:
        # unsigned-arc residues only equal the layout's pmod(signed)
        # ids when 2^64 ≡ 0 (mod n), i.e. power-of-two shard counts
        shard_ids = keyspace_shards(ks, n_shards)
    else:
        shard_ids = None
    if shard_ids is not None:
        df = df.filter(F.col("shard").isin(shard_ids))
    return df.filter(includes_column(_hash_column(F.col("subj"), algo), ks)).drop(
        "shard"
    )
