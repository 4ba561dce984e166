"""Sampling/split determinism."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from degdb_spark.operators.sampling import (
    deterministic_sample,
    stratified_counts,
    train_test_split,
)


def test_sample_stable_under_repartition(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = {r.k for r in deterministic_sample(df, "k", 10).collect()}
    b = {r.k for r in deterministic_sample(df.repartition(13), "k", 10).collect()}
    assert a == b  # identical membership regardless of layout
    assert 0.05 < len(a) / 5000 < 0.15


def test_split_partitions_exactly(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    out = train_test_split(df, "k", test_pct=20)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts["test"] + counts["train"] == 2000
    assert 0.15 < counts["test"] / 2000 < 0.25
    # deterministic: same rows in test on a re-run
    again = train_test_split(df, "k", test_pct=20)
    t1 = {r.k for r in out.filter(F.col("split") == "test").collect()}
    t2 = {r.k for r in again.filter(F.col("split") == "test").collect()}
    assert t1 == t2


def test_stratified_counts_on_docs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = stratified_counts(docs, "doc_id", "lang", test_pct=10).collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, {})[r.split] = r.n
    total = sum(sum(v.values()) for v in per_lang.values())
    assert total == docs.count()


def test_weighted_sample_prefers_heavy_rows(spark):
    """A-ES: a row with overwhelming weight is (deterministically)
    sampled; sample is exactly k and reproducible."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.sampling import weighted_sample_topk

    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 7, F.lit(1e9)).otherwise(F.lit(1.0)).alias("w"),
    )
    out = weighted_sample_topk(df, "w", k=5).collect()
    assert len(out) == 5
    assert any(r.doc_id == 7 for r in out)
    again = weighted_sample_topk(df, "w", k=5).collect()
    assert [(r.doc_id, r.sample_rank) for r in out] == [
        (r.doc_id, r.sample_rank) for r in again
    ]
    # zero-weight rows can never appear
    df0 = df.withColumn("w", F.when(F.col("doc_id") < 100, 0.0).otherwise(F.col("w")))
    out0 = weighted_sample_topk(df0, "w", k=5).collect()
    assert all(r.doc_id >= 100 for r in out0)


def test_temperature_mixture_knife_edge_stable(spark, tmp_path):
    """Regression: with EXACTLY equal source counts the true temperature
    threshold is an integer (x = fraction * buckets), so a raw
    SUM(double) w_sum put FLOOR one ulp either side of the boundary
    depending on partial-aggregation order — one flipped threshold
    re-sorts the comparator's value-ordered rows into a 20/20 mismatch
    (the round-6 sweep flake). The decimal w_sum + shared FLOOR epsilon
    must pin every threshold to the ceiling value under any layout."""
    from degdb_spark.queries.sampling_queries import (
        _TEMP_BUCKETS,
        _TEMP_FRACTION,
        docs_temperature_mixture,
    )

    sf_dir = str(tmp_path)
    docs = spark.range(0, 5000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 20)).alias("source"),
        F.lit(100).alias("n_chars"),
    )
    docs.write.parquet(os.path.join(sf_dir, "documents.parquet"))

    expected_thr = int(_TEMP_FRACTION * _TEMP_BUCKETS)
    baseline = None
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            rows = [
                (r.source, r.n_total, r.n_kept, r.keep_threshold)
                for r in docs_temperature_mixture(spark, sf_dir).collect()
            ]
            assert all(r[3] == expected_thr for r in rows), rows
            if baseline is None:
                baseline = rows
            else:
                assert rows == baseline
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_epoch_shuffle_permutation_and_decorrelation(spark):
    """epoch_shuffle: (a) output is a PERMUTATION — every id exactly
    once, positions contiguous 1..n within each shard; (b) stable
    under repartitioning (pure hash function of (epoch, id)); (c)
    different epochs give genuinely different orders (the whole point
    — same order every epoch overfits to data order); (d) matches a
    literal Python replica of the md5 arithmetic."""
    import hashlib

    from pyspark.sql import functions as F

    from degdb_spark.operators.sampling import epoch_shuffle

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    out = epoch_shuffle(docs, epoch=1, n_shards=8).collect()
    assert len(out) == n and len({r.doc_id for r in out}) == n
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))

    # replica
    def key(e, i):
        return hashlib.md5(f"{e}:{i}".encode()).hexdigest()

    want = {}
    rows = [(int(h[:8], 16) % 8, key(1, r.doc_id), r.doc_id) for r in out
            for h in [key(1, r.doc_id)]]
    per = {}
    for shard, h, i in sorted(rows, key=lambda t: (t[0], t[1], t[2])):
        per[shard] = per.get(shard, 0) + 1
        want[i] = (shard, per[shard])
    got = {r.doc_id: (r.shard, r.pos) for r in out}
    assert got == want

    # repartition stability
    out2 = {r.doc_id: (r.shard, r.pos)
            for r in epoch_shuffle(docs.repartition(13), epoch=1, n_shards=8).collect()}
    assert out2 == got

    # epoch decorrelation: the (shard, pos) map must differ broadly
    oute2 = {r.doc_id: (r.shard, r.pos)
             for r in epoch_shuffle(docs, epoch=2, n_shards=8).collect()}
    same = sum(1 for i in got if got[i] == oute2[i])
    assert same < n * 0.1


def test_epoch_shuffle_default_shards_scale_with_input(spark):
    """The n_shards DEFAULT derives from the input's partition count
    (min 8) so no corpus/8-sized window partition can appear at scale
    (VERDICT r12 "What's wrong" #1); an explicit n_shards still wins."""
    from degdb_spark.operators.sampling import epoch_shuffle

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wide = docs.repartition(40)
    out = epoch_shuffle(wide, epoch=1)
    shards = {r.shard for r in out.select("shard").distinct().collect()}
    # 40-way default: shard ids spread well past the old fixed 8
    assert max(shards) >= 8 and len(shards) > 8
    assert all(0 <= s < 40 for s in shards)
    # explicit n_shards unchanged (the oracle-checked contract path)
    pinned = epoch_shuffle(docs, epoch=1, n_shards=8)
    assert {r.shard for r in pinned.select("shard").distinct().collect()} <= set(range(8))
