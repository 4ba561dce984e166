#!/usr/bin/env python
"""Insert-throughput micro-benchmarks, mirroring the reference's only
benchmark harness (/root/reference/triplestore/triplestore_test.go:
237-279: single-triple insert and 1000-triple batch insert).

The batches here are DataFrames: each insert materialises its batch
with one Spark job and probes the driver-resident store's key index, so
the single-row path pays a whole job per row; it is reported for parity,
not as a recommendation. The node's own insert path is also timed:
signed ``DegDB.insert_json`` batches of 500 triples, parsed, signed and
deduplicated in-process, each timed on its own and reported as the
median milliseconds per batch. Ten go into an empty store; then
``SWEEP_BATCHES`` go into each of three stores that hold
``SWEEP_STORED`` triples, a quarter of each batch repeating stored keys,
which shows whether an insert's cost grows with the store. Beside each
sweep insert, a one-subject ``DegDB.query_json`` of a stored subject is
timed on the same store: the read half of size-independence, reported
as the median milliseconds per read.

Usage: python tools/insert_bench.py [--rows 10000] [--batch 1000]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

JSON_BATCH = 500  # triples per signed insert_json batch
JSON_BATCHES = 10  # insert_json batches timed
SWEEP_STORED = (10_000, 100_000, 1_000_000)  # store sizes the sweep times inserts at
SWEEP_FILL = 100_000  # triples per unsigned in-process fill insert
SWEEP_BATCHES = 20  # insert_json batches timed per sweep size


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=10_000)
    ap.add_argument("--batch", type=int, default=1000)
    ap.add_argument("--single", type=int, default=20, help="single-row inserts to time")
    args = ap.parse_args()

    from degdb_spark.api import DegDB
    from degdb_spark.operators.triplestore import TripleStore
    from degdb_spark.session import get_spark

    spark = get_spark(app_name="insert_bench")

    from pyspark.sql import functions as F

    def rows(n, offset=0):
        # the reference's bench shape: ("foo"+i, subject, object) —
        # generated JVM-side so the bench measures the insert path, not
        # Py4J row serialization
        return spark.range(n).select(
            F.concat(F.lit("foo"), (F.col("id") + offset).cast("string")).alias("subj"),
            F.lit("some subject! woooooo").alias("pred"),
            F.lit("toasters are delicious").alias("obj"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("author"),
            F.lit(None).cast("string").alias("sig"),
            F.lit(None).cast("timestamp").alias("created"),
        )

    # batch inserts of args.batch rows
    store = TripleStore(spark)
    t0 = time.time()
    total = 0
    for b in range(args.rows // args.batch):
        total += store.insert(rows(args.batch, offset=b * args.batch))
    batch_secs = time.time() - t0
    assert total == args.rows

    # single-row inserts (one Spark job each — parity with the
    # reference's BenchmarkInsertTriple)
    store2 = TripleStore(spark)
    t0 = time.time()
    for i in range(args.single):
        store2.insert(rows(1, offset=i))
    single_secs = time.time() - t0

    # signed JSON batches through the node's API, each timed on its own
    db = DegDB(spark, signing_key=b"insert-bench-key")
    json_ms = []
    for b in range(JSON_BATCHES):
        payload = json.dumps(
            [
                {"subj": f"bar{b}_{i}", "pred": "some subject! woooooo", "obj": "toasters are delicious"}
                for i in range(JSON_BATCH)
            ]
        )
        t0 = time.perf_counter()
        assert db.insert_json(payload) == JSON_BATCH
        json_ms.append(1000 * (time.perf_counter() - t0))

    # signed batches on one store per sweep size, taken in turn so that
    # the host's load falls alike on every size
    import pyarrow as pa

    stores = {size: DegDB(spark, signing_key=b"insert-bench-key") for size in SWEEP_STORED}
    for size, sdb in stores.items():  # fill triples ("s<i>", "p<i % 8>", "o<i>"), i < size
        for start in range(0, size, SWEEP_FILL):
            ids = range(start, min(start + SWEEP_FILL, size))
            sdb.store.insert(pa.table({
                "subj": [f"s{i}" for i in ids], "pred": [f"p{i % 8}" for i in ids], "obj": [f"o{i}" for i in ids],
            }))
    sweep_ms: dict[int, list[float]] = {size: [] for size in SWEEP_STORED}
    read_ms: dict[int, list[float]] = {size: [] for size in SWEEP_STORED}
    n_dups = JSON_BATCH // 4
    for b in range(SWEEP_BATCHES):
        for size, sdb in stores.items():
            fresh = [{"subj": f"new{b}_{i}", "pred": "p0", "obj": "o"} for i in range(JSON_BATCH - n_dups)]
            dups = [{"subj": f"s{i}", "pred": f"p{i % 8}", "obj": f"o{i}"} for i in range(b, size, size // n_dups)]
            payload = json.dumps(fresh + dups[:n_dups])
            t0 = time.perf_counter()
            assert sdb.insert_json(payload) == len(fresh)
            sweep_ms[size].append(1000 * (time.perf_counter() - t0))
            i = (b * 7919) % size
            q = json.dumps([{"subj": f"s{i}"}])
            t0 = time.perf_counter()
            assert len(sdb.query_json(q)) == 1
            read_ms[size].append(1000 * (time.perf_counter() - t0))

    print(
        json.dumps(
            {
                "metric": "insert_throughput",
                "batch_rows_per_sec": round(args.rows / batch_secs, 1),
                "batch_size": args.batch,
                "single_inserts_per_sec": round(args.single / single_secs, 2),
                "signed_insert_json_batch_size": JSON_BATCH,
                "signed_insert_json_ms_per_batch": round(statistics.median(json_ms), 1),
                "signed_insert_json_ms_by_stored": {
                    str(size): round(statistics.median(ms), 2) for size, ms in sweep_ms.items()
                },
                "one_subject_query_json_ms_by_stored": {
                    str(size): round(statistics.median(ms), 2) for size, ms in read_ms.items()
                },
                "unit": "rows/sec",
            }
        )
    )


if __name__ == "__main__":
    main()
