"""BM25 full-text search over a document corpus.

The reference engine answers point lookups over its triple store
(``core/http.go`` query endpoint); a training-data pipeline additionally
needs *ranked* retrieval — find the documents most relevant to a term
query (for decontamination audits, eval-set mining, targeted sampling).
This module provides the relational form of an inverted index plus BM25
(Robertson/Lucene variant) top-k scoring, all in codegen built-ins.

Scale design (100 TB corpus):

- ``postings`` is one explode + one (doc_id, token) aggregation — a
  single linear shuffle; at warehouse scale you'd write it out bucketed
  by ``token`` so repeated queries skip the build.
- Scoring FILTERS the postings to the query's terms before anything
  else (`token IN (...)` — pushes into the scan when postings are a
  stored table), so the join graph only ever touches the candidate set
  (docs sharing ≥1 term with the query), never the full corpus.
- Per-term document frequencies and the corpus constants (N, avgdl)
  are 1-row / |terms|-row aggregates that ride as broadcasts.
- The candidate→doc-length join keys on doc_id; the candidate side is
  query-sized, so AQE picks a broadcast join at runtime.

Determinism: idf = ln(1 + (N - df + .5)/(df + .5)) is FLOOR-rounded to
6 dp, per-term contributions are FLOOR-rounded to 6 dp, and the final
per-doc sum accumulates in DECIMAL — order-independent and replayable
bit-for-bit in the DuckDB oracle (same pattern as docs_unigram_logprob).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from degdb_spark.operators.text import tokens
from degdb_spark.queries.rounding import dround

BM25_K1 = 1.2
BM25_B = 0.75


def postings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Inverted index in relational form: (token, doc_id, tf, dl).

    ``dl`` (document length in tokens) is carried on every posting row
    so scoring never has to rejoin the corpus for normalization.
    """
    tok = docs.select(
        "doc_id",
        F.explode(tokens(text_col)).alias("token"),
        F.size(tokens(text_col)).alias("dl"),
    ).filter(F.col("token") != "")
    return tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """1-row (_n_docs, _total_dl, _avgdl) — counts ALL docs including
    token-less ones, which postings alone can't recover (that's why an
    index build persists this row next to the postings table)."""
    return docs.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum(
            F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(
                F.size(tokens(text_col))
            )
        ).alias("_total_dl"),
    ).withColumn("_avgdl", F.col("_total_dl") / F.col("_n_docs"))


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25.

    Returns (doc_id, score, n_terms_hit, rank) — rank 1 = best; ties
    break on doc_id for cross-engine stable ordering.
    """
    return _bm25_score(
        postings(docs, text_col), corpus_stats(docs, text_col), query_terms, k, k1, b
    )


def build_postings_index(
    docs: DataFrame,
    table: str,
    text_col: str = "text",
    buckets: int = 16,
    batch_id: int = 0,
) -> None:
    """Materialize the inverted index as a TABLE partitioned by
    ``_batch`` and bucketed by token — what a 100 TB deployment does
    once per corpus version so that every subsequent query skips the
    corpus scan entirely: the query path reads only the probed token
    buckets (no explode, no tokenize, no shuffle for the token
    filter). Corpus stats persist alongside as one row PER BATCH in
    ``<table>_stats`` (token-less documents are invisible to postings
    but count toward N/avgdl); readers sum the rows — an
    aggregate-sized scan.

    The ``_batch`` partitioning is the idempotency mechanism: every
    ingest (initial build included) owns one partition in both tables,
    so a replayed batch — Structured Streaming re-runs a failed
    micro-batch — overwrites its own partition with identical rows
    instead of double-appending postings and double-counting stats."""
    _write_postings_batch(docs, table, text_col, batch_id, buckets=buckets, create=True)


def refresh_postings_index(
    new_docs: DataFrame,
    table: str,
    text_col: str = "text",
    batch_id: int | None = None,
) -> None:
    """Incremental index maintenance: write the INCREMENT's postings
    and stats row into their own ``_batch`` partition of the bucketed
    table (dynamic partition overwrite — replaying the same batch_id
    converges instead of duplicating). Historical text is never
    re-read — the same contract as the incremental band index. Doc ids
    in ``new_docs`` must be new (append-only corpora; upserts go
    through a MERGE + rebuild of the affected buckets). Without an
    explicit ``batch_id``, the next id after the table's current max
    is used; a caller replaying a batch passes its id so a
    crash-and-retry lands on the identical partition."""
    spark = new_docs.sparkSession
    if batch_id is None:
        batch_id = spark.table(table).agg(F.max("_batch")).first()[0] + 1
    _write_postings_batch(new_docs, table, text_col, batch_id, create=False)


def _write_postings_batch(
    docs: DataFrame,
    table: str,
    text_col: str,
    batch_id: int,
    buckets: int = 16,
    create: bool = False,
) -> None:
    spark = docs.sparkSession
    post = postings(docs, text_col).withColumn("_batch", F.lit(int(batch_id)))
    stats = (
        corpus_stats(docs, text_col)
        .select("_n_docs", "_total_dl")
        .withColumn("_batch", F.lit(int(batch_id)))
    )
    if create:
        from degdb_spark.operators.pq import drop_managed_table

        for t in (table, f"{table}_stats"):
            drop_managed_table(spark, t)
        (
            post.write.mode("overwrite")
            .partitionBy("_batch")
            .bucketBy(buckets, "token")
            .sortBy("token")
            .saveAsTable(table)
        )
        stats.write.mode("overwrite").partitionBy("_batch").saveAsTable(
            f"{table}_stats"
        )
        return
    # INSERT OVERWRITE with an explicit STATIC `_batch` spec replaces
    # exactly this batch's partition regardless of the session-wide
    # partitionOverwriteMode — no shared-conf mutation, so two
    # concurrent foreachBatch writers can't interleave a
    # restore-to-static under each other and truncate the whole table
    # (the former conf-toggle pattern had exactly that race; a
    # DataFrameWriter option("partitionOverwriteMode") is silently
    # ignored by insertInto, verified on this Spark)
    _insert_overwrite_batch(
        post.select("doc_id", "token", "tf", "dl"), table, batch_id
    )
    _insert_overwrite_batch(
        stats.select("_n_docs", "_total_dl"), f"{table}_stats", batch_id
    )


def _insert_overwrite_batch(
    rows: DataFrame, table: str, batch_id: int, dynamic: tuple[str, ...] = ()
) -> None:
    """Write ``rows`` (data columns only, table order, any dynamic
    partition columns last) into the ``_batch = batch_id`` partition
    subtree of ``table`` via statically-specced INSERT OVERWRITE.
    ``dynamic`` names partition columns below ``_batch`` in the
    partitioning (their values ride in ``rows``' trailing columns)."""
    view = f"_ins_{table}_{int(batch_id)}".replace(".", "_")
    rows.createOrReplaceTempView(view)
    cols = ", ".join(f"`{c}`" for c in rows.columns)
    spec = ", ".join([f"_batch = {int(batch_id)}", *dynamic])
    try:
        rows.sparkSession.sql(
            f"INSERT OVERWRITE TABLE {table} PARTITION ({spec}) "
            f"SELECT {cols} FROM {view}"
        )
    finally:  # never leak the temp view on a failed INSERT
        rows.sparkSession.catalog.dropTempView(view)


def index_corpus_stats(spark, table: str) -> DataFrame:
    """1-row (_n_docs, _total_dl, _avgdl) from the per-batch stats
    table — the exact roll-forward, summed at read time."""
    return (
        spark.table(f"{table}_stats")
        .agg(
            F.sum("_n_docs").alias("_n_docs"),
            F.sum("_total_dl").alias("_total_dl"),
        )
        .withColumn("_avgdl", F.col("_total_dl") / F.col("_n_docs"))
    )


def bm25_topk_from_index(
    spark,
    table: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """bm25_topk against a build_postings_index table: identical
    results (tested), corpus never rescanned — the plan starts at the
    postings table with the term filter pushed into the scan."""
    return _bm25_score(
        spark.table(table), index_corpus_stats(spark, table), query_terms, k, k1, b
    )


def _bm25_score(
    post: DataFrame,
    stats: DataFrame,
    query_terms: list[str],
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    cand = post.filter(F.col("token").isin(query_terms))
    dfreq = cand.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    contrib = (
        cand.join(F.broadcast(dfreq), on="token")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            dround(
                F.log(
                    F.lit(1.0)
                    + (F.col("_n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                ),
                6,
            ),
        )
        .withColumn(
            "w",
            dround(
                F.col("idf")
                * F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
                ),
                6,
            ),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.sum(F.col("w").cast("decimal(30,6)")).cast("double").alias("score"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    # Top-k without a global window: a query containing one common term
    # makes `scored` corpus-sized, so ranking it through an
    # unpartitioned row_number() would sort the whole candidate set on
    # ONE task. orderBy().limit(k) compiles to TakeOrderedAndProject
    # (per-task k-row heaps); rank is then attached to the <=k
    # survivors via one sorted array + posexplode — no WindowExec.
    topk = scored.orderBy(F.col("score").desc(), "doc_id").limit(k)
    packed = topk.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("score")).alias("_negscore"),
                    F.col("doc_id").alias("_id"),
                    F.col("n_terms_hit").alias("_hits"),
                )
            )
        ).alias("arr")
    )
    return packed.select(F.posexplode("arr").alias("pos", "s")).select(
        F.col("s._id").alias("doc_id"),
        (-F.col("s._negscore")).alias("score"),
        F.col("s._hits").alias("n_terms_hit"),
        (F.col("pos") + 1).cast("long").alias("rank"),
    )


def bm25_sql(
    query_terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB oracle replaying bm25_topk bit-for-bit."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS token, len({toks}) AS dl
  FROM documents WHERE trim(text) <> ''
), post AS (
  SELECT doc_id, token, COUNT(*) AS tf, MIN(dl) AS dl
  FROM tok WHERE token <> '' GROUP BY doc_id, token
), stats AS (
  SELECT COUNT(*) AS n_docs,
         SUM(CASE WHEN trim(text) = '' THEN 0 ELSE len({toks}) END) AS total_dl
  FROM documents
), cand AS (
  SELECT * FROM post WHERE token IN ({terms})
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM cand GROUP BY token
), contrib AS (
  SELECT cand.doc_id,
    FLOOR(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) * 1000000 + 0.5) / 1000000 AS idf,
    cand.tf, cand.dl,
    stats.total_dl::DOUBLE / stats.n_docs AS avgdl
  FROM cand JOIN dfreq ON cand.token = dfreq.token CROSS JOIN stats
), weighted AS (
  SELECT doc_id,
    FLOOR((idf * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))) * 1000000 + 0.5) / 1000000 AS w
  FROM contrib
), scored AS (
  SELECT doc_id,
         CAST(SUM(CAST(w AS DECIMAL(30,6))) AS DOUBLE) AS score,
         COUNT(*) AS n_terms_hit
  FROM weighted GROUP BY doc_id
), ranked AS (
  SELECT doc_id, score, n_terms_hit,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT doc_id, score, n_terms_hit, rank FROM ranked
WHERE rank <= {k} ORDER BY rank
"""


def positional_postings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Positional inverted index rows: (doc_id, token, positions) with
    1-based positions into the tokens() array — the SAME numbering
    phrase_count_tokens scans, so index-answered phrase/proximity
    results are bit-equal to the corpus-scan path (tested). Positions
    are assigned BEFORE the empty-token filter, so blank runs in the
    source text can never shift a real token's position."""
    tok = docs.select(
        "doc_id", F.posexplode(tokens(text_col)).alias("_pos0", "token")
    ).filter(F.col("token") != "")
    return tok.groupBy("doc_id", "token").agg(
        F.array_sort(F.collect_list(F.col("_pos0") + 1)).alias("positions")
    )


def build_positional_index(
    docs: DataFrame,
    table: str,
    text_col: str = "text",
    buckets: int = 16,
    batch_id: int = 0,
) -> None:
    """Materialize the positional index as a TABLE partitioned by
    ``_batch`` and bucketed by token — the phrase/proximity twin of
    build_postings_index. At 100 TB a SERVING workload of repeated
    phrase queries probes the phrase's token buckets (a few
    query-term-sized scans + doc_id equi-joins) instead of rescanning
    and retokenizing the corpus per query; phrase_count_tokens stays
    the right shape for ad-hoc analytics that ride a corpus scan
    anyway (SCALE.md). Same ``_batch`` idempotency contract as the
    postings/band/PQ indexes: every ingest owns its partition, so a
    replayed batch overwrites itself instead of double-appending."""
    _write_positional_batch(docs, table, text_col, batch_id, buckets, create=True)


def refresh_positional_index(
    new_docs: DataFrame,
    table: str,
    text_col: str = "text",
    batch_id: int | None = None,
) -> None:
    """Incremental positional-index maintenance: tokenize ONLY the
    increment into its own ``_batch`` partition (statically-specced
    INSERT OVERWRITE — replaying the same batch_id converges).
    Historical text is never re-read; doc ids must be new
    (append-only), the same contract as refresh_postings_index."""
    spark = new_docs.sparkSession
    if batch_id is None:
        batch_id = spark.table(table).agg(F.max("_batch")).first()[0] + 1
    _write_positional_batch(new_docs, table, text_col, batch_id, create=False)


def _write_positional_batch(
    docs: DataFrame,
    table: str,
    text_col: str,
    batch_id: int,
    buckets: int = 16,
    create: bool = False,
) -> None:
    spark = docs.sparkSession
    rows = positional_postings(docs, text_col).withColumn(
        "_batch", F.lit(int(batch_id))
    )
    if create:
        from degdb_spark.operators.pq import drop_managed_table

        drop_managed_table(spark, table)
        (
            rows.write.mode("overwrite")
            .partitionBy("_batch")
            .bucketBy(buckets, "token")
            .sortBy("token")
            .saveAsTable(table)
        )
        return
    _insert_overwrite_batch(
        rows.select("doc_id", "token", "positions"), table, batch_id
    )


def phrase_topk_from_index(
    spark, table: str, terms: list[str], k: int = 25
) -> DataFrame:
    """Top-k phrase counting answered FROM a build_positional_index
    table: one bucket-pruned scan per phrase term (token filter pushed
    into the scan of a token-bucketed table), |terms|-1 doc_id
    equi-joins between query-term-sized sides, then the run count as a
    codegen array expression over the joined position arrays — the
    first term's positions are the candidate starts, and a start
    survives when every later term has a position exactly i ahead.
    Bit-equal to the phrase_count_tokens scan path (tested; the
    contract query shares docs_phrase_search's oracle)."""
    from functools import reduce

    if not terms:
        raise ValueError("phrase_topk_from_index: terms must be non-empty")
    post = spark.table(table)
    cand = None
    for i, t in enumerate(terms):
        side = post.filter(F.col("token") == t).select(
            "doc_id", F.col("positions").alias(f"_p{i}")
        )
        cand = side if cand is None else cand.join(side, on="doc_id")
    pred = lambda p: reduce(
        lambda acc, i: acc & F.array_contains(F.col(f"_p{i}"), p + i),
        range(1, len(terms)),
        F.lit(True),
    )
    out = cand.select(
        "doc_id",
        F.size(F.filter(F.col("_p0"), pred)).cast("long").alias("n_hits"),
    )
    return (
        out.filter(F.col("n_hits") > 0)
        .orderBy(F.col("n_hits").desc(), "doc_id")
        .limit(k)
    )


def proximity_topk_from_index(
    spark, table: str, term_a: str, term_b: str, window: int, k: int = 25
) -> DataFrame:
    """Top-k proximity search answered FROM the positional index: two
    bucket-pruned token probes, one doc_id equi-join, and the same
    flattened |pa|x|pb| distance transform as proximity_min_distance —
    bit-equal to the scan path (tested)."""
    post = spark.table(table)
    a = post.filter(F.col("token") == term_a).select(
        "doc_id", F.col("positions").alias("_pa")
    )
    b = post.filter(F.col("token") == term_b).select(
        "doc_id", F.col("positions").alias("_pb")
    )
    dists = F.flatten(
        F.transform(
            F.col("_pa"),
            lambda x: F.transform(F.col("_pb"), lambda y: F.abs(x - y)),
        )
    )
    out = a.join(b, on="doc_id").select(
        "doc_id", F.array_min(dists).cast("long").alias("min_dist")
    )
    return (
        out.filter(F.col("min_dist") <= window)
        .orderBy("min_dist", "doc_id")
        .limit(k)
    )


def phrase_count(text_col, terms: list[str]):
    """Occurrences of an exact consecutive-token phrase, as a codegen
    column expression — a shuffle-free scan, no positional-index join:
    at 100 TB phrase counting rides the same document scan as every
    other per-doc feature (Catalyst prunes to the text column), and
    only documents with a hit survive the subsequent filter.

    Prefer tokenizing once in a lower projection and calling
    phrase_count_tokens — repeating the regex split inside each
    reference costs ~25% wall on a corpus scan."""
    from degdb_spark.operators.text import tokens

    return phrase_count_tokens(tokens(text_col), terms)


def phrase_count_tokens(toks, terms: list[str]):
    """phrase_count over an already-tokenized array column."""
    n = len(terms)
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    hit = lambda i: _all_match(toks, i, terms)
    return F.when(F.size(toks) < n, F.lit(0)).otherwise(
        F.size(F.filter(starts, hit))
    ).cast("long")


def _all_match(toks, i, terms):
    cond = F.lit(True)
    for j, t in enumerate(terms):
        cond = cond & (F.element_at(toks, i + F.lit(j)) == F.lit(t))
    return cond


def phrase_sql(terms: list[str], k: int = 25) -> str:
    """DuckDB oracle for a top-k phrase-count query over documents."""
    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    n = len(terms)
    conds = " AND ".join(
        f"toks[i + {j}] = '{t}'" for j, t in enumerate(terms)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS toks FROM documents
), counted AS (
  SELECT doc_id,
         CASE WHEN len(toks) < {n} THEN 0
              ELSE len(list_filter(range(1, len(toks) - {n} + 2), i -> {conds})) END AS n_hits
  FROM base
)
SELECT doc_id, n_hits FROM counted WHERE n_hits > 0
ORDER BY n_hits DESC, doc_id LIMIT {k}
"""


def proximity_min_distance(toks, term_a: str, term_b: str):
    """Minimum token distance between any occurrence of term_a and any
    of term_b, as a codegen column expression over an already-tokenized
    array (NULL when either term is absent). Same shuffle-free scan
    family as phrase_count_tokens: positions are two filtered index
    arrays (occurrence counts per doc are tiny), the distance matrix is
    their flattened cross-transform, and array_min reduces it — no
    positional-index join, the proximity test rides the document scan."""
    pos = lambda t: F.filter(
        F.sequence(F.lit(1), F.size(toks)),
        lambda i: F.element_at(toks, i) == F.lit(t),
    )
    pa, pb = pos(term_a), pos(term_b)
    dists = F.flatten(F.transform(pa, lambda a: F.transform(pb, lambda b: F.abs(a - b))))
    return F.when(
        (F.size(pa) > 0) & (F.size(pb) > 0), F.array_min(dists)
    ).cast("long")


def proximity_sql(term_a: str, term_b: str, window: int, k: int = 25) -> str:
    """DuckDB oracle for a top-k proximity query over documents."""
    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS t FROM documents
), pos AS (
  SELECT doc_id,
         list_filter(range(1, len(t) + 1), i -> t[i] = '{term_a}') AS pa,
         list_filter(range(1, len(t) + 1), i -> t[i] = '{term_b}') AS pb
  FROM base
), scored AS (
  SELECT doc_id,
         CASE WHEN len(pa) > 0 AND len(pb) > 0
              THEN list_min(flatten(list_transform(pa,
                     a -> list_transform(pb, b -> abs(a - b)))))
              END AS min_dist
  FROM pos
)
SELECT doc_id, CAST(min_dist AS BIGINT) AS min_dist
FROM scored WHERE min_dist IS NOT NULL AND min_dist <= {window}
ORDER BY min_dist, doc_id LIMIT {k}
"""


#: RRF constant k (Cormack, Clarke & Buettcher 2009 — k = 60 is the
#: published default) and the integer contribution scale: each list's
#: contribution 1/(k + rank) is quantized to NANO units with pure
#: integer arithmetic — round(S/d) = (2S + d) div (2d) — BEFORE
#: summation, so fused scores are exact BIGINTs that cannot drift
#: with float summation order (the micronat discipline applied to
#: rank fusion).
RRF_K = 60
RRF_SCALE = 1_000_000_000


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: int = RRF_K,
    top: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-Rank Fusion over N ranked lists — the standard
    hybrid-retrieval combiner (lexical BM25 + dense ANN is the
    canonical pair): every list contributes 1/(k + rank) per doc and
    the lists never need score calibration, only ranks. Each input
    must carry (``id_col``, rank). Returns the fused top —
    (rank, id, n_lists, rrf_nano) with rrf_nano the exact integer
    score (module constant note) and n_lists how many input lists
    surfaced the doc (the agreement signal dashboards slice on).

    Scale shape: one union of N bounded top-k lists (N·k rows — the
    inputs are already ranked tops), one map-side-combinable groupBy,
    and the TakeOrdered + packed-array rank device (no WindowExec
    ever). Ties break (rrf_nano DESC, id ASC).

    Each input is first reduced to its BEST (minimum) rank per doc
    (ADVICE r12): a doc listed at several ranks within one input
    (multi-field retrievers, passage-level lists rolled to docs) must
    contribute once to that list's score and once to n_lists, or both
    the fusion score and the agreement signal double-count. On
    rank-unique inputs the reduction is the identity."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    u = None
    for r in rankings:
        part = (
            r.select(
                F.col(id_col).cast("long").alias("_id"),
                F.col("rank").cast("long").alias("_r"),
            )
            .groupBy("_id")
            .agg(F.min("_r").alias("_r"))
        )
        u = part if u is None else u.unionByName(part)
    contrib = F.expr(
        f"(cast({2 * RRF_SCALE} as bigint) + ({k_rrf} + _r))"
        f" div (2 * ({k_rrf} + _r))"
    )
    scored = (
        u.select("_id", contrib.alias("_c"))
        .groupBy("_id")
        .agg(
            F.sum("_c").alias("rrf_nano"),
            F.count(F.lit(1)).cast("long").alias("n_lists"),
        )
    )
    topk = scored.orderBy(F.col("rrf_nano").desc(), "_id").limit(top)
    packed = topk.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("rrf_nano")).alias("_ns"),
                    F.col("_id").alias("_id"),
                    F.col("n_lists").alias("_nl"),
                )
            )
        ).alias("arr")
    )
    return packed.select(F.posexplode("arr").alias("pos", "s")).select(
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("s._id").alias(id_col),
        F.col("s._nl").alias("n_lists"),
        (-F.col("s._ns")).alias("rrf_nano"),
    )
