"""BM25 ranked retrieval (operators/search.py)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from degdb_spark.operators import search as S


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_postings_tf_and_dl(spark):
    docs = _docs(spark, [(1, "a b a"), (2, "b"), (3, "  ")])
    post = {
        (r.doc_id, r.token): (r.tf, r.dl)
        for r in S.postings(docs).collect()
    }
    assert post[(1, "a")] == (2, 3)
    assert post[(1, "b")] == (1, 3)
    assert post[(2, "b")] == (1, 1)
    # blank doc contributes no postings
    assert not any(d == 3 for d, _ in post)


def test_bm25_rare_term_outranks_common(spark):
    # 20 docs share 'common'; only doc 0 has 'rare'. A query for both
    # must rank doc 0 first (idf of 'rare' dominates).
    rows = [(0, "rare common")] + [(i, "common filler words here") for i in range(1, 20)]
    out = S.bm25_topk(_docs(spark, rows), ["rare", "common"], k=5).collect()
    assert out[0].doc_id == 0
    assert out[0].rank == 1
    assert out[0].n_terms_hit == 2
    # scores are non-increasing with rank
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_bm25_candidate_pruning(spark):
    # docs with no query term never appear, regardless of k
    rows = [(1, "x y"), (2, "y z"), (3, "q")]
    out = S.bm25_topk(_docs(spark, rows), ["x"], k=10).collect()
    assert [r.doc_id for r in out] == [1]


def test_bm25_length_normalization(spark):
    # same tf for the term, but the shorter doc scores higher (b > 0)
    rows = [(1, "t " + "pad " * 50), (2, "t")]
    out = S.bm25_topk(_docs(spark, rows), ["t"], k=2).collect()
    assert out[0].doc_id == 2


def test_phrase_count(spark):
    from degdb_spark.operators.search import phrase_count

    df = spark.createDataFrame(
        [
            (1, "hash join hash join x"),
            (2, "hash x join"),
            (3, "join hash"),
            (4, "hash"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", phrase_count("text", ["hash", "join"]).alias("n")
        ).collect()
    }
    assert out == {1: 2, 2: 0, 3: 0, 4: 0, 5: 0}


def test_bm25_from_index_equals_direct(spark, tmp_path):
    """Query-from-materialized-index == query-from-corpus, and the
    index plan never touches the documents scan (no tokenize/explode)."""
    from degdb_spark.operators.search import (
        bm25_topk,
        bm25_topk_from_index,
        build_postings_index,
    )

    import shutil

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bm25_idx_test", "bm25_idx_test_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    build_postings_index(docs, "bm25_idx_test")
    terms = ["dup", "spark", "the"]
    direct = bm25_topk(docs, terms, k=10).collect()
    indexed = bm25_topk_from_index(spark, "bm25_idx_test", terms, k=10).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in indexed]
    # plan: no Generate (explode) and the term filter reaches the scan
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bm25_topk_from_index(spark, "bm25_idx_test", terms, k=10).explain("formatted")
    plan = buf.getvalue()
    assert "documents.parquet" not in plan  # corpus never rescanned
    # the term filter reaches the postings-table scan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "token" in l]
    assert pushed, plan
    # no tokenizer in the plan: the only Generate is the k-row rank
    # posexplode, never a corpus-wide token explode (the split regex
    # marks the tokenizer)
    assert "split(" not in plan.lower()
    spark.sql("DROP TABLE IF EXISTS bm25_idx_test")
    spark.sql("DROP TABLE IF EXISTS bm25_idx_test_stats")


def test_postings_index_incremental_refresh(spark, tmp_path):
    """Build on 80% + refresh with 20% == build on 100%: query results
    identical, historical text never re-read."""
    import shutil

    from degdb_spark.operators.search import (
        bm25_topk_from_index,
        build_postings_index,
        refresh_postings_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bm25_inc_test", "bm25_inc_test_stats", "bm25_inc_test_stats_new",
              "bm25_full_test", "bm25_full_test_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    old = docs.filter(F.col("doc_id") < 160)
    new = docs.filter(F.col("doc_id") >= 160)
    build_postings_index(old, "bm25_inc_test")
    refresh_postings_index(new, "bm25_inc_test")
    build_postings_index(docs, "bm25_full_test")
    terms = ["dup", "spark", "the"]
    inc = bm25_topk_from_index(spark, "bm25_inc_test", terms, k=10).collect()
    full = bm25_topk_from_index(spark, "bm25_full_test", terms, k=10).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in full] and len(full) > 0
    # stats rolled forward exactly (per-batch rows, summed at read)
    from degdb_spark.operators.search import index_corpus_stats

    s_inc = index_corpus_stats(spark, "bm25_inc_test").collect()[0]
    s_full = index_corpus_stats(spark, "bm25_full_test").collect()[0]
    assert (s_inc["_n_docs"], s_inc["_total_dl"]) == (
        s_full["_n_docs"], s_full["_total_dl"]
    )
    # replay idempotency: re-running the increment with its batch id
    # (what Structured Streaming does after a mid-step crash) overwrites
    # the batch partition instead of double-appending — results and
    # stats are unchanged
    replay_id = spark.table("bm25_inc_test").agg(F.max("_batch")).first()[0]
    refresh_postings_index(new, "bm25_inc_test", batch_id=replay_id)
    again = bm25_topk_from_index(spark, "bm25_inc_test", terms, k=10).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in full]
    s_again = index_corpus_stats(spark, "bm25_inc_test").collect()[0]
    assert (s_again["_n_docs"], s_again["_total_dl"]) == (
        s_full["_n_docs"], s_full["_total_dl"]
    )
    for t in ("bm25_inc_test", "bm25_inc_test_stats",
              "bm25_full_test", "bm25_full_test_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_postings_refresh_crash_between_postings_and_stats(spark, tmp_path):
    """Crash window between the postings insert and the stats insert:
    the retry re-overwrites both partitions with identical rows, so
    index and stats converge to the clean state (the r4 ADVICE failure
    mode — double-appended postings, double-counted stats — cannot
    happen)."""
    import shutil

    from degdb_spark.operators.search import (
        bm25_topk_from_index,
        build_postings_index,
        index_corpus_stats,
        postings,
        refresh_postings_index,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bm25_crash_idx", "bm25_crash_idx_stats",
              "bm25_clean_idx", "bm25_clean_idx_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") < 150)
    new = docs.filter(F.col("doc_id") >= 150)

    build_postings_index(old, "bm25_clean_idx", batch_id=0)
    refresh_postings_index(new, "bm25_clean_idx", batch_id=1)
    terms = ["dup", "spark", "the"]
    want = [tuple(r) for r in
            bm25_topk_from_index(spark, "bm25_clean_idx", terms, k=10).collect()]

    build_postings_index(old, "bm25_crash_idx", batch_id=0)
    # simulate the crash: batch 1's postings landed, stats did not
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (postings(new).withColumn("_batch", F.lit(1))
         .select("doc_id", "token", "tf", "dl", "_batch")
         .write.mode("overwrite").insertInto("bm25_crash_idx"))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # retry the whole refresh for batch 1
    refresh_postings_index(new, "bm25_crash_idx", batch_id=1)
    got = [tuple(r) for r in
           bm25_topk_from_index(spark, "bm25_crash_idx", terms, k=10).collect()]
    assert got == want and len(want) > 0
    s_got = index_corpus_stats(spark, "bm25_crash_idx").collect()[0]
    s_want = index_corpus_stats(spark, "bm25_clean_idx").collect()[0]
    assert (s_got["_n_docs"], s_got["_total_dl"]) == (
        s_want["_n_docs"], s_want["_total_dl"]
    )
    for t in ("bm25_crash_idx", "bm25_crash_idx_stats",
              "bm25_clean_idx", "bm25_clean_idx_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _drop(spark, *tables):
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def test_positional_index_phrase_and_proximity_parity(spark):
    """Index-answered phrase/proximity == the corpus-scan paths on real
    testdata, and the phrase plan (a) never rescans the corpus, (b)
    pushes the token filter into the bucketed scan, (c) contains no
    tokenizer."""
    from degdb_spark.operators.search import (
        build_positional_index,
        phrase_count_tokens,
        phrase_topk_from_index,
        proximity_min_distance,
        proximity_topk_from_index,
    )
    from degdb_spark.operators.text import tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    _drop(spark, "pos_idx_test")
    build_positional_index(docs, "pos_idx_test")

    toks = docs.select("doc_id", tokens("text").alias("_t"))
    phrase = ["hash", "join"]
    scan = (
        toks.select(
            "doc_id", phrase_count_tokens(F.col("_t"), phrase).alias("n_hits")
        )
        .filter(F.col("n_hits") > 0)
        .orderBy(F.col("n_hits").desc(), "doc_id")
        .limit(25)
        .collect()
    )
    idx = phrase_topk_from_index(spark, "pos_idx_test", phrase, k=25).collect()
    assert [tuple(r) for r in idx] == [tuple(r) for r in scan] and len(scan) > 0

    pscan = (
        toks.filter(F.array_contains("_t", "dup") & F.array_contains("_t", "spark"))
        .select(
            "doc_id",
            proximity_min_distance(F.col("_t"), "dup", "spark").alias("min_dist"),
        )
        .filter(F.col("min_dist") <= 5)
        .orderBy("min_dist", "doc_id")
        .limit(25)
        .collect()
    )
    pidx = proximity_topk_from_index(
        spark, "pos_idx_test", "dup", "spark", 5, k=25
    ).collect()
    assert [tuple(r) for r in pidx] == [tuple(r) for r in pscan] and len(pscan) > 0

    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        phrase_topk_from_index(spark, "pos_idx_test", phrase, k=25).explain(
            "formatted"
        )
    plan = buf.getvalue()
    assert "documents.parquet" not in plan  # corpus never rescanned
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "token" in l]
    assert pushed, plan
    assert "split(" not in plan.lower()  # no tokenizer anywhere
    _drop(spark, "pos_idx_test")


def test_positional_index_refresh_and_replay(spark):
    """Build on 80% + refresh 20% == full build; replaying the same
    batch_id converges instead of double-appending positions."""
    from degdb_spark.operators.search import (
        build_positional_index,
        phrase_topk_from_index,
        refresh_positional_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    _drop(spark, "pos_inc_test", "pos_full_test")
    old = docs.filter(F.col("doc_id") < 160)
    new = docs.filter(F.col("doc_id") >= 160)
    build_positional_index(old, "pos_inc_test")
    refresh_positional_index(new, "pos_inc_test")
    build_positional_index(docs, "pos_full_test")
    phrase = ["hash", "join"]
    full = phrase_topk_from_index(spark, "pos_full_test", phrase, k=25).collect()
    inc = phrase_topk_from_index(spark, "pos_inc_test", phrase, k=25).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in full] and len(full) > 0
    replay_id = spark.table("pos_inc_test").agg(F.max("_batch")).first()[0]
    refresh_positional_index(new, "pos_inc_test", batch_id=replay_id)
    again = phrase_topk_from_index(spark, "pos_inc_test", phrase, k=25).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in full]
    n_rows = spark.table("pos_inc_test").count()
    assert n_rows == spark.table("pos_full_test").count()
    _drop(spark, "pos_inc_test", "pos_full_test")


def test_positional_index_position_numbering_matches_tokenizer(spark):
    """Positions are 1-based indexes into the exact tokens() array
    (whitespace runs collapse, leading/trailing space trims — same as
    the scan path), so adjacency tests agree with phrase_count_tokens
    on every spacing shape."""
    from degdb_spark.operators.search import (
        build_positional_index,
        phrase_topk_from_index,
    )

    docs = _docs(
        spark,
        [
            (1, "hash join ok"),      # phrase at (1,2)
            (2, "hash  join"),        # run of spaces collapses: still adjacent
            (3, "  x hash join "),    # offset + trim: phrase at (2,3)
            (4, "hash x join"),       # intervening token: NOT adjacent
            (5, "join hash"),         # reversed: no match
        ],
    )
    _drop(spark, "pos_gap_test")
    build_positional_index(docs, "pos_gap_test")
    out = {
        r.doc_id: r.n_hits
        for r in phrase_topk_from_index(
            spark, "pos_gap_test", ["hash", "join"], k=10
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1}  # docs 4 and 5 must NOT match
    _drop(spark, "pos_gap_test")


def test_rrf_fuse_matches_python_reference(spark):
    """rrf_fuse == a literal Python RRF on crafted lists: integer
    nano contributions round(1e9/(60+rank)), agreement counts, and
    (score DESC, id ASC) tie-breaks. A doc on BOTH lists must outrank
    a doc that is #1 on one list only when the arithmetic says so."""
    from degdb_spark.operators.search import RRF_K, RRF_SCALE, rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3), (13, 4)], "doc_id long, rank long"
    )
    dense = spark.createDataFrame(
        [(12, 1), (13, 2), (14, 3), (10, 4)], "doc_id long, rank long"
    )
    got = [tuple(r) for r in rrf_fuse([lex, dense], top=10).collect()]

    def contrib(r):
        d = RRF_K + r
        return (2 * RRF_SCALE + d) // (2 * d)

    import collections

    scores = collections.defaultdict(lambda: [0, 0])
    for lst in ([(10, 1), (11, 2), (12, 3), (13, 4)],
                [(12, 1), (13, 2), (14, 3), (10, 4)]):
        for i, r in lst:
            scores[i][0] += contrib(r)
            scores[i][1] += 1
    want = [
        (j + 1, i, n, s)
        for j, (i, (s, n)) in enumerate(
            sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))
        )
    ]
    assert got == want
    # both-list docs carry n_lists=2 and beat the single-list #2
    by_id = {r[1]: r for r in got}
    assert by_id[12][2] == 2 and by_id[11][2] == 1
    assert by_id[12][0] < by_id[11][0]  # doc 12 (ranks 3+1) above doc 11 (rank 2)
    # empty input raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_hybrid_search_fuses_real_rankings(spark):
    """docs_hybrid_search end-to-end on testdata: every fused row's
    nano score equals the sum of its members' contributions recomputed
    from the two REAL rankings, and at least one doc is surfaced by
    both lists or the fusion degenerates (guards the fixture)."""
    from degdb_spark.operators.search import RRF_K, RRF_SCALE, bm25_topk
    from degdb_spark.operators.similarity import brute_force_topk
    from degdb_spark.queries.search_queries import (
        BM25_TERMS,
        HYBRID_DENSE_QID,
        hybrid_search,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    lex = {r.doc_id: r.rank for r in bm25_topk(docs, BM25_TERMS, k=20).collect()}
    dense = {
        r.neighbor_id: r.rank
        for r in brute_force_topk(
            emb, emb.filter(F.col("vec_id") == HYBRID_DENSE_QID), k=20
        ).collect()
    }

    def contrib(r):
        d = RRF_K + r
        return (2 * RRF_SCALE + d) // (2 * d)

    for row in hybrid_search(spark, sf).collect():
        want = (lex.get(row.doc_id) and contrib(lex[row.doc_id]) or 0) + (
            dense.get(row.doc_id) and contrib(dense[row.doc_id]) or 0
        )
        n = (row.doc_id in lex) + (row.doc_id in dense)
        assert (row.rrf_nano, row.n_lists) == (want, n)


def test_rrf_fuse_dedups_multirank_inputs(spark):
    """A doc listed at SEVERAL ranks within one input list (passage
    lists rolled up to docs) contributes once, at its BEST rank, to
    that list's score and once to n_lists (ADVICE r12 — the
    double-count fix). Equivalent rank-unique lists fuse identically."""
    from degdb_spark.operators.search import rrf_fuse

    multi = spark.createDataFrame(
        [(10, 1), (10, 3), (11, 2), (10, 7)], "doc_id long, rank long"
    )
    uniq = spark.createDataFrame([(10, 1), (11, 2)], "doc_id long, rank long")
    other = spark.createDataFrame([(11, 1), (12, 2)], "doc_id long, rank long")
    got = [tuple(r) for r in rrf_fuse([multi, other], top=10).collect()]
    want = [tuple(r) for r in rrf_fuse([uniq, other], top=10).collect()]
    assert got == want
    by_id = {r[1]: r for r in got}
    assert by_id[10][2] == 1  # n_lists counts the LIST once, not 3x
