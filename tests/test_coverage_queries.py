"""Round-2 coverage queries: plan-building smoke for the whole registry
plus value checks for the new operators (the oracle gate does the full
cross-engine comparison; these pin the semantics that the oracle can't
see, e.g. that capping really caps and chunk strides tile the text)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_registry_unique_and_buildable(registry_plans):
    """Every registry entry builds an analyzable plan (no execution)."""
    assert len(registry_plans) >= 100
    for name, df in registry_plans.items():
        if isinstance(df, Exception):
            raise AssertionError(f"{name}: build error") from df
        assert df.columns, name  # analysis succeeded


def test_per_user_cap_caps(spark, testdata):
    from degdb_spark.queries.coverage_queries import events_per_user_cap

    out = events_per_user_cap(spark, SF_SMOKE).collect()
    assert out and all(r.n_kept <= 3 for r in out)


def test_chunking_tiles_text(spark, testdata):
    from degdb_spark.queries.coverage_queries import _CHUNK, _STRIDE, docs_chunking

    chunks = docs_chunking(spark, SF_SMOKE)
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("start").alias("last_start"),
            F.min("chunk_len").alias("min_len"),
        )
        .collect()
    )
    docs = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", F.length("text").alias("n_chars"))
        .collect()
    }
    for r in per_doc:
        n_chars = docs[r.doc_id]
        # stride tiling covers the text: last start within one stride of end
        assert r.last_start + _STRIDE >= n_chars
        # every chunk is non-empty and at most _CHUNK long
        assert 1 <= r.min_len <= _CHUNK


def test_triangles_positive_and_consistent(spark, testdata):
    from degdb_spark.queries.coverage_queries import (
        basket_clustering_top,
        basket_triangle_count,
    )

    row = basket_triangle_count(spark, SF_SMOKE).collect()[0]
    assert row.n_edges > 0 and row.n_triangles > 0
    top = basket_clustering_top(spark, SF_SMOKE).collect()
    assert top and all(0.0 <= r.clustering <= 1.0 for r in top)


def test_sliding_window_triples_events(spark, testdata):
    """Each event lands in exactly 3 sliding windows (15m window, 5m
    slide), so sum(n) == 3 * count(events)."""
    from degdb_spark.queries.coverage_queries import events_sliding_window

    ev_n = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    total = (
        events_sliding_window(spark, SF_SMOKE)
        .agg(F.sum("n").alias("s"))
        .collect()[0]
        .s
    )
    assert total == 3 * ev_n


def test_registry_queries_tolerate_empty_tables(spark, tmp_path):
    """Degenerate-input guard: a representative slice of the registry
    (the families that historically crashed on empty/regenerated data:
    sequence/explode, iterative graph, trained ANN, scalar collects)
    must return empty results — not raise — on schema-only tables."""
    import glob
    import os

    import duckdb

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "empty_sf")
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for f in glob.glob(os.path.join(src, "*.parquet")):
        con.execute(
            f"COPY (SELECT * FROM '{f}' LIMIT 0) TO"
            f" '{dst}/{os.path.basename(f)}' (FORMAT PARQUET)"
        )
    from degdb_spark.queries import registry

    reg = registry()
    probe = [
        "docs_chunking", "docs_bigrams", "docs_packing", "docs_bpe_pair_counts",
        "basket_sssp_histogram", "basket_modularity", "basket_kcore",
        "basket_triangle_count", "emb_ivf_knn", "emb_knn_topk",
        "events_anomaly_zscore", "events_decay_score", "lineitem_price_histogram",
        "orders_skew_report", "lineitem_profile",
    ]
    for name in probe:
        n = reg[name].spark(spark, dst).count()  # must not raise
        assert n >= 0, name
