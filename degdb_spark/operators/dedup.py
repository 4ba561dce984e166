"""Deduplication operators for training-data pipelines.

Five tiers, each a different cost/recall point at 100 TB:

- exact:       hash-groupBy on a normalized fingerprint — one shuffle on
               a 128-bit key; always the first pass.
- minhash-LSH: shingle → minhash signature → band buckets → candidate
               pairs from bucket joins only (no all-pairs). The classic
               Broder scheme; at scale the band-bucket shuffle dominates
               and is ~linear in corpus size.
- simhash:     60-bit weighted-projection fingerprint; near-dups differ
               in few bits. Hamming-ball search via 4-block exact-match
               banding (any 15-bit block equal → candidate).
- ngram-jaccard: exact verification on candidate pairs (token-set
               Jaccard) — used as the verifier behind the LSH recall
               stages.
- embedding-cosine: near-dup at semantic level; delegates to
               operators/similarity.py.

All stages are built-in-function compositions — no Python in the
per-row path. MinHash/SimHash hashing is md5-derived and ENGINE-PORTABLE:
every hash in the pipeline can be reproduced in ANSI-ish SQL
(md5 hex → integer), so the full banding pipelines — not just their
Jaccard verifiers — replay in the DuckDB correctness oracle. MinHash
slots come from Kirsch-Mitzenmacher double hashing (one md5 per shingle,
two independent halves, slot_i = h1 + i·h2), which costs one hash per
shingle like the xxhash64 scheme it replaced while staying portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from degdb_spark.operators.balance import rebalance_for_compute
from degdb_spark.operators.text import fingerprint, let, ngrams, tokens
from degdb_spark.queries.rounding import dround
from degdb_spark.persistence import pin

MERSENNE_P = (1 << 61) - 1


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Returns one row per duplicate-group: fingerprint, group size, the
    kept representative (min id) — the canonical keep-first policy.
    """
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus: keep min-id doc per fingerprint. One
    shuffle; at 100 TB this is a groupBy on md5 — perfectly balanced."""
    w_keep = exact_duplicates(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(w_keep, on=id_col, how="left_semi")


def _shingle_hash_pair(shingle: Column) -> Column:
    """[h1, h2] from ONE md5 of the shingle string: h1 = first 15 hex
    digits (60 bits), h2 = hex digits 17-30 (56 bits). Both positive
    longs, both exactly reproducible in DuckDB as
    ``CAST(('0x' || substr(md5(s), off, len)) AS BIGINT)``."""
    return let(
        F.md5(shingle),
        lambda m: F.array(
            F.conv(F.substring(m, 1, 15), 16, 10).cast("long"),
            F.conv(F.substring(m, 17, 14), 16, 10).cast("long"),
        ),
    )


def _minhash_signature(shingles_col, num_hashes: int):
    """num_hashes minhash values over an array<string> of shingles.

    Slot i's hash is h1 + i·h2 (Kirsch-Mitzenmacher double hashing over
    the two md5 halves) — one md5 per shingle total, and every slot value
    is plain 64-bit arithmetic both engines compute identically:
    max(h1) + 31·max(h2) < 2^60 + 2^61 never overflows a signed long.
    A seeded-xxhash64 slot family is marginally faster but engine-
    private; md5 keeps the whole signature (and therefore LSH banding)
    replayable in the DuckDB correctness oracle.
    """
    # single pass: per shingle compute all num_hashes slot hashes, fold
    # with element-wise min — the shingle array is evaluated exactly once.
    # Slots loop over sequence(0..n-1) so the tree stays O(1) in
    # num_hashes (an unrolled literal array compiles ~2-3 s per query).
    max_long = (1 << 63) - 1
    return F.aggregate(
        F.transform(
            shingles_col,
            lambda s: let(
                _shingle_hash_pair(s),
                lambda h: F.transform(
                    F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                    lambda i: F.element_at(h, 1) + i.cast("long") * F.element_at(h, 2),
                ),
            ),
        ),
        F.array_repeat(F.lit(max_long).cast("long"), num_hashes),
        lambda acc, hs: F.zip_with(acc, hs, lambda a, b: F.least(a, b)),
    )


#: minhash_band_hashes memo — see its docstring. Entries carry the
#: py4j GATEWAY OBJECT they were built against (a strong ref, so id()
#: recycling can never alias a relaunched gateway to a stale entry);
#: a cached Column is only served while its gateway is still the
#: process's active one, mirroring the ``cached.sparkSession is
#: spark`` guard in catalog.load_table. Bounded FIFO.
_BAND_HASH_CACHE: dict[tuple, tuple[object, Column]] = {}
_BAND_HASH_CACHE_MAX = 16


def _active_gateway():
    from pyspark import SparkContext

    return SparkContext._gateway


def minhash_band_hashes(
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> Column:
    """array<string> of LSH band hashes for one document — the shared
    sketch expression behind candidate generation and the band index.

    MEMOIZED: building this Column tree costs ~0.9 s of py4j round
    trips (deep transform/aggregate/zip_with lambdas), billed to every
    query that verifies near-dups. An unresolved Column is immutable
    and session-independent — but it IS py4j-backed, so if the JVM
    gateway is torn down and relaunched within one Python process a
    cached Column would reference dead Java objects. The memo
    (_BAND_HASH_CACHE) therefore keys on args and validates the stored
    gateway identity on every hit, rebuilding after a gateway swap.

    One expression computes signature AND band hashes: the band
    derivation happens in the aggregate's `finish` lambda where the
    accumulated signature is a bound variable — evaluated once per
    row. (Deriving bands from a separate sig column re-evaluates the
    whole signature aggregate per reference after project-collapse;
    measured 20-80× slowdown.) Hash slots loop over sequence() rather
    than unrolling — same values, O(1) codegen size (see
    _minhash_signature). The band hash is md5 of the comma-joined
    slot minima — a fixed-width shuffle key DuckDB reproduces verbatim
    (string_agg ... ORDER BY slot), so the banding itself is
    oracle-checkable, not just the Jaccard verifier behind it.
    """
    gw = _active_gateway()
    key = (text_col, shingle_k, num_hashes, bands)
    hit = _BAND_HASH_CACHE.get(key)
    if hit is not None and hit[0] is gw:
        return hit[1]
    rows = num_hashes // bands
    max_long = (1 << 63) - 1
    col = F.aggregate(
        F.transform(
            ngrams(text_col, n=shingle_k),
            lambda s: let(
                _shingle_hash_pair(s),
                lambda h: F.transform(
                    F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                    lambda i: F.element_at(h, 1) + i.cast("long") * F.element_at(h, 2),
                ),
            ),
        ),
        F.array_repeat(F.lit(max_long).cast("long"), num_hashes),
        lambda acc, hs: F.zip_with(acc, hs, lambda a, b: F.least(a, b)),
        lambda acc: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(acc, b * rows + 1, rows), lambda x: x.cast("string")
                    ),
                )
            ),
        ),
    )
    _BAND_HASH_CACHE[key] = (gw, col)
    while len(_BAND_HASH_CACHE) > _BAND_HASH_CACHE_MAX:
        _BAND_HASH_CACHE.pop(next(iter(_BAND_HASH_CACHE)))
    return col


#: cap for the per-frame memo dicts (_degdb_lsh_cands /
#: _degdb_verified_pairs): one entry per distinct parameter tuple for
#: the frame's lifetime, and each entry can transitively hold a pinned
#: frame — so a threshold-sweeping session gets the same bounded-ring
#: discipline as persistence._PERSIST_RING instead of unbounded
#: accretion (VERDICT r7 ask #7).
_FRAME_MEMO_MAX = 8


def _memo_put(memo: dict, key, value) -> None:
    """Insert into a per-frame memo with FIFO eviction beyond
    _FRAME_MEMO_MAX. An evicted entry only costs a recompute if that
    parameter tuple is re-queried. NOTE (persist pin mode): a memoized
    result's pin can ALSO be evicted underneath it by the persistence
    ring — the result stays correct, it just recomputes."""
    memo[key] = value
    while len(memo) > _FRAME_MEMO_MAX:
        memo.pop(next(iter(memo)))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    rows = num_hashes/bands per band; two docs collide if any band of
    their signatures is identical. Collision probability for Jaccard s is
    1-(1-s^rows)^bands — 8 bands × 4 rows targets s ≳ 0.6.

    Plan shape: explode to (band_id, band_hash) — one shuffle on the
    band key, self-join *within buckets only*, so cost tracks the number
    of colliding pairs, not n².

    The result frame is memoized ON the input DataFrame object (same
    lifetime — the catalog caches corpus frames per path+mtime, so
    repeated queries over one corpus reuse one analyzed plan and one
    lazily-checkpointed sketch instead of re-analyzing the deep
    signature expression per query, ~0.4 s of driver time each).
    """
    key = (text_col, id_col, shingle_k, num_hashes, bands)
    memo = getattr(df, "_degdb_lsh_cands", None)
    if memo is not None and key in memo:
        return memo[key]
    orig = df
    band_arr = minhash_band_hashes(text_col, shingle_k, num_hashes, bands)
    df = rebalance_for_compute(df)
    # materialize the (tiny: one row per doc·band) sketch before the
    # self-join — otherwise both join sides re-evaluate the signature
    # fold over the full corpus. At cluster scale this is the difference
    # between scanning the corpus once and twice.
    from degdb_spark.persistence import pin

    banded = pin(
        df.select(F.col(id_col), F.posexplode(band_arr).alias("band", "band_hash"))
    )
    left = banded.alias("l")
    right = banded.alias("r")
    out = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    if memo is None:
        try:
            memo = orig._degdb_lsh_cands = {}
        except AttributeError:  # exotic DataFrame subclass without __dict__
            return out
    _memo_put(memo, key, out)
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard for (candidate) pairs; the verification
    stage behind LSH. Without a candidate set it verifies all pairs —
    only for small slices / tests.

    With candidates, only docs that APPEAR in a candidate pair are
    tokenized: a semi-join on the candidate endpoints prunes the corpus
    before the tokset projection, so verification cost tracks the
    candidate count, not the corpus size (tokenizing 100 TB twice to
    verify a few thousand pairs is the naive shape). The candidate
    frame feeds three consumers (endpoint prune + both pair sides) and
    is lazily pinned so its band self-join plans once."""
    if candidates is None:
        toks = df.select(
            F.col(id_col), F.array_distinct(tokens(text_col)).alias("tokset")
        )
        a = toks.alias("a")
        b = toks.alias("b")
        pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.tokset").alias("ts_a"),
            F.col("b.tokset").alias("ts_b"),
        )
    else:
        from degdb_spark.persistence import pin

        # memoized on the candidate frame (which minhash_lsh_candidates
        # itself memoizes on the corpus frame): repeated verifications
        # reuse one analyzed plan + one pinned candidate
        # materialization. The memo entry stores the corpus frame
        # OBJECT alongside the result — id() alone can recycle after
        # GC and would serve pairs verified against a different corpus.
        key = (text_col, id_col, threshold)
        memo = getattr(candidates, "_degdb_verified_pairs", None)
        if memo is not None and key in memo:
            stored_df, stored_out = memo[key]
            if stored_df is df:
                return stored_out
        cand_frame = candidates
        # pin once per candidates frame, not once per threshold
        pinned = getattr(candidates, "_degdb_pinned_self", None)
        if pinned is None:
            pinned = pin(candidates)
            try:
                cand_frame._degdb_pinned_self = pinned
            except AttributeError:
                pass
        candidates = pinned
        cand_ids = candidates.select(
            F.explode(F.array("id_a", "id_b")).alias(id_col)
        ).distinct()
        toks = df.join(cand_ids, on=id_col, how="left_semi").select(
            F.col(id_col), F.array_distinct(tokens(text_col)).alias("tokset")
        )
        pairs = (
            candidates.join(
                toks.withColumnRenamed(id_col, "id_a").withColumnRenamed("tokset", "ts_a"),
                on="id_a",
            ).join(
                toks.withColumnRenamed(id_col, "id_b").withColumnRenamed("tokset", "ts_b"),
                on="id_b",
            )
        )
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size(F.array_union("ts_a", "ts_b"))
    out = (
        pairs.withColumn(
            "jaccard",
            dround(F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if candidates is not None:
        if memo is None:
            try:
                memo = cand_frame._degdb_verified_pairs = {}
            except AttributeError:
                return out
        _memo_put(memo, key, (df, out))
    return out


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """60-bit SimHash over engine-portable token hashes.

    Each token votes its hash's bits ±1; the fingerprint is the sign
    vector. Token hashes are the first 15 md5 hex digits as a long (60
    usable bits — hence a 60-bit fingerprint rather than 64), so the
    identical fingerprint is computable in DuckDB for the correctness
    oracle.

    Relational shape: explode tokens → one hash per row → groupBy(doc)
    with `bits` conditional SUMs → fold the sign bits in one scalar
    projection. An earlier nested higher-order-function form (aggregate
    over zip_with over transform) allocated two `bits`-long arrays per
    token and Catalyst's projection collapse re-evaluated the votes
    array across the fingerprint fold — ~100× slower end-to-end. The
    explode/groupBy form stays in whole-stage codegen, map-side partial
    aggregation combines votes before the one shuffle on ``id_col``,
    and the shuffled rows carry just (id, 60 longs) — the shape that
    holds at corpus scale.
    """
    toks = tokens(text_col)
    th = rebalance_for_compute(df).select(
        F.col(id_col), F.explode_outer(toks).alias("_tok")
    ).select(
        id_col,
        F.conv(F.substring(F.md5("_tok"), 1, 15), 16, 10).cast("long").alias("_h"),
    )
    # the per-bit aggregates and the fingerprint fold are built as SQL
    # strings, not Column chains: Column ops cost ~2 py4j round trips
    # each, and 60 chained sums + a 60-term conditional fold measured
    # ~2 s of driver time per query CONSTRUCTION (the
    # _centroid_struct_lit lesson); F.expr parses each in one trip and
    # the arithmetic is identical integer math
    votes = th.groupBy(id_col).agg(
        *[
            F.expr(f"sum((shiftright(_h, {i}) & 1) * 2 - 1) AS _v{i}")
            for i in range(bits)
        ]
    )
    fp_sql = " + ".join(
        f"(CASE WHEN _v{i} > 0 THEN CAST({1 << i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return votes.select(F.col(id_col), F.expr(fp_sql).alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs whose SimHashes differ in ≤ max_hamming bits.

    Banding: split the 60-bit fingerprint into 4 × 15-bit blocks; any
    pair within Hamming distance 3 must agree exactly on ≥1 block
    (pigeonhole), so candidates come from 4 block-equality buckets —
    linear shuffle, no all-pairs.
    """
    # pinned: the fingerprint subplan carries a 60-column conditional
    # aggregate — planning it TWICE through the self-join below (plus
    # the exchange-reuse analysis) measured ~2 s of pure driver time;
    # behind the checkpoint each side is a trivial LogicalRDD
    from degdb_spark.persistence import pin

    sh = pin(simhash(df, text_col, id_col))
    blocks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.shiftright("simhash", b * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("block_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.block", "bb.block_val")
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Transitive near-dup clusters from verified pairs (id_a, id_b).

    Near-duplication is not transitive (A~B, B~C does not imply A~C) but
    dedup policy must be: if A~B then only one survives, so the keep-set
    is one representative per *connected component* of the pair graph —
    the FineWeb/CCNet convention. Components come from the shared HashMin
    min-label loop (graph/algorithms.py): O(diameter) supersteps, one
    shuffle each; near-dup clusters are shallow (diameter ~ chain length)
    so this converges in a handful of rounds even at corpus scale.

    Returns one row per document: (id_col, cluster_id, cluster_size,
    kept). cluster_id = min doc id in the component, and the kept
    representative is exactly that min-id doc — deterministic across
    engines and runs.
    """
    from degdb_spark.graph.algorithms import hash_min_components

    vertices = df.select(F.col(id_col).alias("id")).distinct()
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # Only pair-touched docs can ever change label: run the superstep loop
    # over that (dup-set-sized) vertex set and left-join singletons back as
    # their own component. At corpus scale the near-dup set is a few % of
    # documents, so this shrinks every superstep's state and shuffle from
    # O(corpus) to O(dups) — the loop cost tracks the problem, not the table.
    touched = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    cc_touched = hash_min_components(touched, edges, max_iter=max_iter)
    cc = vertices.join(cc_touched, on="id", how="left").withColumn(
        "component", F.coalesce("component", F.col("id"))
    )
    from pyspark.sql import Window

    sizes = Window.partitionBy("cluster_id")
    return (
        cc.select(F.col("id").alias(id_col), F.col("component").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(sizes))
        .withColumn("kept", F.col(id_col) == F.col("cluster_id"))
    )


def near_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """The near-deduplicated corpus: keep the min-id representative of
    each pair-graph component. Docs in no pair are their own component
    and always survive. One semi-join after the cluster pass."""
    keep = (
        dedup_clusters(df, pairs, id_col, max_iter)
        .filter(F.col("kept"))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word n-grams appear anywhere in the benchmark (eval) set —
    the GPT-3/PaLM-style n-gram-overlap contamination check.

    Plan shape: the benchmark's distinct n-grams are a (small) build
    side, broadcast into a semi-style inner join against the corpus's
    exploded distinct n-grams; zero-hit docs come back via a left join
    of the per-doc hit counts. Benchmarks are tiny next to a training
    corpus, so at 100 TB this stays one broadcast + one narrow
    groupBy(doc) shuffle — the corpus is scanned once and no all-pairs
    comparison exists.

    Returns (id_col, n_hit, contaminated) — n_hit = distinct overlapping
    n-grams, contaminated = n_hit > 0.
    """
    bench_grams = (
        benchmark.select(F.explode(ngrams(text_col, n=n)).alias("gram")).distinct()
    )
    doc_grams = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(ngrams(text_col, n=n))).alias("gram")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), on="gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        corpus.select(id_col)
        .join(hits, on=id_col, how="left")
        .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)).cast("long"))
        .withColumn("contaminated", F.col("n_hit") > 0)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hits: int = 0,
) -> DataFrame:
    """The decontaminated corpus: drop documents whose benchmark n-gram
    overlap exceeds ``max_hits`` (default: any overlap). One semi-join
    against the report's clean set."""
    clean = (
        contamination_report(corpus, benchmark, text_col, id_col, n)
        .filter(F.col("n_hit") <= max_hits)
        .select(id_col)
    )
    return corpus.join(clean, on=id_col, how="left_semi")


def band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(doc_id, band, band_hash) — the PERSISTABLE LSH index. At scale
    this is what you write out (bucketed by band_hash) after each
    ingest: 3 narrow values per doc-band, so tomorrow's increment never
    rescans today's text."""
    arr = minhash_band_hashes(text_col, shingle_k, num_hashes, bands)
    # the shingle + 32-way minhash fold is the expensive projection
    # here; spread a single-file input's lone scan partition first
    # (guide §2.5 — the lsh_candidate_pairs path above already does)
    return rebalance_for_compute(df).select(
        F.col(id_col), F.posexplode(arr).alias("band", "band_hash")
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    existing_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Near-dup candidates for an INCREMENT: new-vs-corpus pairs via an
    equi-join of the new batch's band table against the persisted one,
    plus new-vs-new via self-join — the old corpus TEXT is never read,
    only its band index. Equals the full-corpus candidate set
    restricted to pairs touching a new doc (asserted in tests).

    Cost model at 100 TB: the increment's sketch build is linear in the
    increment; the probe join is keyed by band_hash against a bucketed
    index; nothing touches historical text or re-pairs old-vs-old.
    """
    nb = band_table(
        new_docs, text_col, id_col, shingle_k, num_hashes, bands
    ).transform(pin, eager=False)
    old_new = (
        existing_bands.alias("l")
        .join(
            nb.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(
            F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    new_new = (
        nb.alias("l")
        .join(
            nb.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
    )
    return old_new.unionByName(new_new).distinct()


def span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 10,
) -> DataFrame:
    """C4-style global span deduplication: slice every document into
    consecutive ``span_tokens``-token spans, keep only the FIRST
    occurrence of each distinct span across the whole corpus (ordered
    by (doc, span position)), and reassemble each document from its
    surviving spans — the rewrite-the-corpus dedup (C4 drops repeated
    three-sentence spans; the synthetic corpus has no sentence
    delimiters, so the unit is a fixed token window). Complements the
    drop-whole-near-dup-docs family (minhash/simhash/ngram): boilerplate
    repeated across distinct pages disappears while the pages survive.

    Scale shape (100 TB): span slicing is pure codegen (transform +
    slice over the token array — no explode/regroup shuffle to build
    spans); occurrences ride as 128-bit fingerprints (two
    differently-seeded xxhash64 evals, 16 bytes — see
    _span_occurrences for why 64 bits isn't enough), never as span
    text (C4 itself hashes spans), so the global first-occurrence
    shuffle carries (hash, doc, idx) only — ONE hash aggregation to
    one row per distinct span (min over a (doc, idx) struct —
    map-side combined, so a span repeated 10^6 times still reduces to
    one row per partition before the shuffle, no per-key window over
    occurrence lists). The argmin table IS the keep set — its
    (doc, idx) winners roll up to a per-doc kept-index list, and
    reassembly is a positional array lookup back on the sliced doc
    (one doc-keyed join; corpus text crosses exactly one shuffle, as
    whole-doc rows). Returns (id, n_spans, n_kept, text_clean) —
    text_clean is '' for a fully duplicated document.
    """
    sliced = _span_slices(docs, text_col, id_col, span_tokens)
    return _span_keep_first_and_reassemble(sliced, _span_occurrences(sliced, id_col), id_col)


def _span_slices(
    docs: DataFrame, text_col: str, id_col: str, span_tokens: int
) -> DataFrame:
    """(id, _spans): each doc's consecutive k-token spans, built as a
    codegen transform+slice over the token array — no shuffle."""
    k = span_tokens
    toked = docs.select(id_col, tokens(text_col).alias("_t"))
    return toked.select(
        id_col,
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("_t") / F.lit(float(k))).cast("long") - 1,
            ),
            lambda i: F.array_join(F.slice("_t", i * k + 1, k), " "),
        ).alias("_spans"),
    )


def _span_occurrences(sliced: DataFrame, id_col: str) -> DataFrame:
    """(id, span_idx, span_h1, span_h2) occurrence table — spans ride
    as 128-bit fingerprints (two DIFFERENTLY-SEEDED xxhash64 evals, 16
    bytes) from here on, never as text. 64 bits alone is NOT enough at
    the design target: 10^11 distinct spans give n²/2^65 ≈ several
    expected birthday collisions, each silently deleting non-duplicate
    text; with two independent 64-bit hashes the expectation is
    ~10^-17.

    Seed-ordering matters: Spark's multi-arg xxhash64 folds children
    left-to-right with the running hash as the next seed, so
    ``xxhash64(span, lit(1))`` would be a PURE FUNCTION of
    ``xxhash64(span)`` — an h1 collision would imply an h2 collision
    and the second hash would buy nothing. The salt goes FIRST:
    ``xxhash64(lit(1), span)`` hashes the span under a different seed
    (H(1, 42)), giving a genuinely independent second hash."""
    return sliced.select(
        id_col,
        F.posexplode("_spans").alias("span_idx", "span"),
    ).select(
        id_col,
        F.col("span_idx").cast("long").alias("span_idx"),
        F.xxhash64("span").alias("span_h1"),
        F.xxhash64(F.lit(1), F.col("span")).alias("span_h2"),
    )


def _span_keep_first_and_reassemble(
    sliced: DataFrame, occ: DataFrame, id_col: str, joiner: str = " "
) -> DataFrame:
    """First-occurrence keep (min-struct hash agg — no per-key window)
    and order-preserving reassembly. The argmin table IS the keep set:
    its (doc, idx) winners roll up to a per-doc sorted kept-index
    list, which joins back to ``sliced`` for a positional array
    lookup — span TEXT never enters a shuffle. n_spans comes from
    ``sliced`` so it counts the document's spans BEFORE any drop."""
    first = occ.groupBy("span_h1", "span_h2").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("span_idx").alias("i"))).alias(
            "_first"
        )
    )
    keep_idx = first.groupBy(F.col("_first.d").alias(id_col)).agg(
        F.array_sort(F.collect_list("_first.i")).alias("_keep")
    )
    return sliced.join(keep_idx, on=id_col, how="left").select(
        id_col,
        F.size("_spans").cast("long").alias("n_spans"),
        F.coalesce(F.size("_keep"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    "_keep",
                    lambda i: F.element_at("_spans", (i + 1).cast("int")),
                ),
                joiner,
            ),
            F.lit(""),
        ).alias("text_clean"),
    )


def incremental_span_dedup(
    new_docs: DataFrame,
    existing_spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """Span dedup for an INCREMENT against a persisted span index:
    any span whose 128-bit fingerprint is already in ``existing_spans``
    ((span_h1, span_h2) columns — the distinct span hashes of all
    earlier batches; 16 bytes per span, never corpus text) is dropped
    from every new document outright (an earlier occurrence beats
    every new one); first-occurrence + reassembly then run within the
    increment only. Old text is never re-read or re-sliced — the index
    carries everything history contributes, exactly the band-index
    contract (`incremental_lsh_candidates`). Returns ``(report,
    fresh_spans)``: the per-new-doc (id, n_spans, n_kept, text_clean)
    report and the increment's genuinely-new distinct span hashes —
    the index delta the caller persists. Processing doc-ordered
    batches through this reproduces `span_dedup` of the full corpus
    bit-for-bit (pytest-pinned)."""
    from degdb_spark.persistence import pin

    sliced = _span_slices(new_docs, text_col, id_col, span_tokens)
    occ = _span_occurrences(sliced, id_col)
    # both outputs consume the probe anti-join; pin it lazily so the
    # batch is sliced and probed once, not once per output
    fresh_occ = pin(
        occ.join(
            existing_spans.select("span_h1", "span_h2"),
            on=["span_h1", "span_h2"],
            how="left_anti",
        )
    )
    report = _span_keep_first_and_reassemble(sliced, fresh_occ, id_col)
    return report, fresh_occ.select("span_h1", "span_h2").distinct()


def ccnet_normalize(col) -> "F.Column":
    """CCNet's paragraph-normalization (Wenzek et al. arXiv:1911.00359
    §3.1, cc_net/text_normalizer.py semantics) as one codegen
    expression: lowercase, every digit → '0', punctuation → space,
    whitespace collapsed, ends trimmed. Two paragraphs that differ
    only in case, numbers, punctuation, or spacing hash identically —
    the normalized form is HASHED, never kept (the raw paragraph is
    what survives). Accent folding (their NFD strip) is omitted: Spark
    has no built-in Unicode normalizer and a UDF here would put Python
    in the hottest path of the cheapest dedup rung; on accented
    corpora, fold upstream at ingest."""
    x = F.lower(col)
    x = F.regexp_replace(x, r"\d", "0")
    x = F.regexp_replace(x, r"[^\w\s]", " ")
    return F.trim(F.regexp_replace(x, r"\s+", " "))


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style paragraph-level deduplication (Wenzek et al.
    arXiv:1911.00359 §3.1 — their FIRST and cheapest dedup rung,
    VERDICT r11 "What's missing" #4): split every document into
    newline-delimited paragraphs, keep only the FIRST occurrence of
    each NORMALIZED paragraph across the corpus (ordered by (doc,
    position)), and reassemble each document from its surviving raw
    paragraphs, newline-joined. Catches the dominant web-duplication
    mode — boilerplate paragraphs (nav text, license blocks, cookie
    banners) repeated across distinct pages — at unit granularity the
    fixed-window span pass can only approximate.

    Sits between exact-doc dedup (coarser: whole doc must repeat) and
    span/substring dedup (finer: any window) on the dedup ladder;
    unlike those, the unit is text-structural and the match is
    normalization-invariant (ccnet_normalize).

    Scale shape (100 TB): paragraph splitting is pure codegen (split +
    filter — no shuffle); occurrences ride as 128-bit fingerprints of
    the NORMALIZED paragraph (two differently-seeded xxhash64 evals,
    salt-first — see _span_occurrences for why 64 bits isn't enough
    and why the salt must lead), so the global first-occurrence
    shuffle carries (hash, doc, idx) only; ONE min-struct hash
    aggregation (map-side combined — a banner repeated 10^8 times
    still reduces to one row per partition before the shuffle), then
    one doc-keyed join for positional reassembly. Exactly the
    span_dedup plan with a structural slicer — the machinery is
    shared. Returns (id, n_paras, n_kept, text_clean); text_clean is
    '' for a fully duplicated document. Empty/whitespace-only
    paragraphs are dropped in the split (they carry no content and
    would all collide)."""
    sliced = _para_slices(docs, text_col, id_col)
    out = _span_keep_first_and_reassemble(
        sliced, _para_occurrences(sliced, id_col), id_col, joiner="\n"
    )
    return out.withColumnsRenamed({"n_spans": "n_paras"})


def _para_slices(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _spans): each doc's non-blank newline-delimited paragraphs
    — pure codegen, no shuffle (the _span_slices twin)."""
    return docs.select(
        id_col,
        F.filter(
            F.split(F.col(text_col), r"\n+"),
            lambda p: F.trim(p) != "",
        ).alias("_spans"),
    )


def _para_occurrences(sliced: DataFrame, id_col: str) -> DataFrame:
    """(id, span_idx, span_h1, span_h2): paragraph occurrences as
    salt-first 128-bit fingerprints of the NORMALIZED paragraph —
    same column schema as _span_occurrences, so the keep/reassemble
    machinery and the persisted-index layout are shared verbatim."""
    return sliced.select(
        id_col,
        F.posexplode("_spans").alias("span_idx", "para"),
    ).select(
        id_col,
        F.col("span_idx").cast("long").alias("span_idx"),
        F.xxhash64(ccnet_normalize(F.col("para"))).alias("span_h1"),
        F.xxhash64(F.lit(1), ccnet_normalize(F.col("para"))).alias("span_h2"),
    )


def incremental_paragraph_dedup(
    new_docs: DataFrame,
    existing_paras: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Paragraph dedup for an INCREMENT against a persisted paragraph
    index ((span_h1, span_h2) fingerprints of all earlier batches'
    NORMALIZED paragraphs — 16 bytes per paragraph, never corpus
    text): an already-indexed paragraph drops from every new document
    outright; first-occurrence + newline reassembly run within the
    increment only. The incremental_span_dedup contract at paragraph
    granularity — old text never re-read, doc-ordered batches
    reproduce paragraph_dedup of the full corpus bit-for-bit
    (pytest-pinned). Returns ``(report, fresh_paras)``."""
    from degdb_spark.persistence import pin

    sliced = _para_slices(new_docs, text_col, id_col)
    occ = _para_occurrences(sliced, id_col)
    fresh_occ = pin(
        occ.join(
            existing_paras.select("span_h1", "span_h2"),
            on=["span_h1", "span_h2"],
            how="left_anti",
        )
    )
    report = _span_keep_first_and_reassemble(
        sliced, fresh_occ, id_col, joiner="\n"
    ).withColumnsRenamed({"n_spans": "n_paras"})
    return report, fresh_occ.select("span_h1", "span_h2").distinct()


def substring_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
) -> DataFrame:
    """Exact VARIABLE-LENGTH substring deduplication — the ExactSubstr
    method of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" (arXiv:2107.06499): every substring of
    >= ``min_tokens`` tokens that occurs more than once in the corpus
    — at ANY offset/length, where span_dedup only sees fixed ALIGNED
    spans — keeps its first occurrence in (doc, position) order and is
    REMOVED from every later occurrence, with the document reassembled
    from the surviving tokens.

    Distributed formulation — fixed-L sliding windows instead of the
    paper's suffix array. Removal rule: a token is removed iff some
    length-L window covering it (stride 1) is NOT the global
    (doc, pos)-first occurrence of its content. This equals the
    paper's semantics exactly: (<=) the corresponding windows of a
    later copy of an l >= L repeat sit at strictly-earlier-ordered
    twins' content, so all are non-first, and with l >= L they cover
    every token of the copy; (=>) a non-first window is itself a later
    occurrence of an L-token repeat covering its tokens. First
    occurrences keep their text; a fully duplicated later document
    drops to ''; a periodic run keeps exactly its first period-worth
    (the suffix-array answer too: the run's shift-overlap repeat is
    removed from position 1 on).

    Plan shape (100 TB): window texts never leave the row — they are
    hashed to 128 bits (two differently-seeded xxhash64; salt FIRST,
    see _span_occurrences for why) inside the explode generator, so
    the occurrence table is (id, pos, h1, h2) — one ~28-byte row per
    corpus token position, the same asymptotic footprint as the
    paper's suffix array (8 bytes/token) and the only data-sized
    shuffle. First-occurrence is ONE map-side-combinable min-struct
    hash aggregate (no per-key window); WINNER starts roll up per doc
    straight off the aggregate (non-winners are the dense-range
    complement array_except(sequence(0, n - L), winners) — no join
    back against the occurrence table), and reassembly is pure
    codegen: an aggregate() fold merges the sorted starts into removal
    intervals (O(starts)), the complement gaps flatten into survivor
    positions, and kept text is a positional lookup on the doc's own
    token array. Corpus text is scanned exactly twice and crosses
    exactly one doc-keyed join, as whole-doc rows.

    Returns (id, n_tokens, n_removed, text_clean), one row per doc.
    """
    L = int(min_tokens)
    toked = docs.select(id_col, tokens(text_col).alias("_t"))
    occ = _window_occurrences(toked, id_col, L)
    return _substring_remove_and_reassemble(
        toked, _winner_starts(occ, id_col), id_col, L
    )


def _window_occurrences(toked: DataFrame, id_col: str, L: int) -> DataFrame:
    """(id, pos, h1, h2): every stride-1 length-L token window as a
    128-bit fingerprint — hashed INSIDE the explode generator (safe:
    generator arguments evaluate once; projections alongside the
    explode would re-evaluate per element)."""
    wins = F.expr(
        f"transform(sequence(0, size(_t) - {L}), i -> struct("
        f" cast(i as bigint) as pos,"
        f" xxhash64(array_join(slice(_t, i + 1, {L}), ' ')) as h1,"
        f" xxhash64(1, array_join(slice(_t, i + 1, {L}), ' ')) as h2))"
    )
    return (
        toked.filter(F.size("_t") >= L)
        .select(id_col, F.explode(wins).alias("w"))
        .select(id_col, "w.pos", "w.h1", "w.h2")
    )


def _winner_starts(occ: DataFrame, id_col: str) -> DataFrame:
    """(id, _wstarts): per doc, sorted start positions of the window
    occurrences that ARE the global (doc, pos)-first of their content
    hash — ONE min-struct hash aggregate plus a per-doc rollup.
    Non-winner starts never need a join back against the occurrence
    table (which would rescan the corpus): a doc of n tokens has the
    DENSE start range 0..n-L, so reassembly derives non-winners as
    array_except(sequence(0, n - L), _wstarts) in codegen."""
    first = occ.groupBy("h1", "h2").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "_first"
        )
    )
    return first.groupBy(F.col("_first.d").alias(id_col)).agg(
        F.array_sort(F.collect_list("_first.p")).alias("_wstarts")
    )


def _substring_remove_and_reassemble(
    toked: DataFrame, winners: DataFrame, id_col: str, L: int
) -> DataFrame:
    """Reassembly from per-doc WINNER window starts, all in codegen:
    non-winner starts are the dense-range complement
    array_except(sequence(0, n - L), _wstarts), folded into merged
    [lo, hi] removal intervals; the complement gaps are survivor
    position ranges, looked up positionally. Docs shorter than L have
    no windows and survive whole; a doc with only non-winner windows
    drops to ''."""
    starts = F.expr(
        f"case when size(_t) < {L} then cast(array() as array<bigint>)"
        f" else array_except(sequence(0L, cast(size(_t) - {L} as bigint)),"
        f"      coalesce(_wstarts, cast(array() as array<bigint>))) end"
    )
    merged = F.expr(
        f"aggregate(_starts,"
        f" cast(array() as array<struct<lo: bigint, hi: bigint>>),"
        f" (acc, s) -> case"
        f"  when size(acc) > 0 and s <= element_at(acc, -1).hi + 1"
        f"  then concat(slice(acc, 1, size(acc) - 1),"
        f"       array(struct(element_at(acc, -1).lo as lo, s + {L - 1} as hi)))"
        f"  else concat(acc, array(struct(s as lo, s + {L - 1} as hi))) end)"
    )
    # complement gaps: before the first interval, between intervals,
    # after the last. Empty gaps are dropped as STRUCTS (lo > hi) —
    # sequence(lo, hi) with lo > hi generates a DESCENDING range, not
    # an empty one, so it must never see an empty gap.
    gaps = F.expr(
        "flatten(transform("
        " filter("
        "  transform(sequence(0, size(_iv)), g -> struct("
        "   case when g = 0 then 0L else element_at(_iv, g).hi + 1 end as lo,"
        "   case when g = size(_iv) then size(_t) - 1"
        "        else element_at(_iv, g + 1).lo - 1 end as hi)),"
        "  iv -> iv.lo <= iv.hi),"
        " iv -> sequence(iv.lo, iv.hi)))"
    )
    return (
        toked.join(winners, on=id_col, how="left")
        .withColumn("_starts", starts)
        .withColumn("_iv", merged)
        .withColumn("_pos", gaps)
        .select(
            id_col,
            F.size("_t").cast("long").alias("n_tokens"),
            (F.size("_t") - F.size("_pos")).cast("long").alias("n_removed"),
            F.expr(
                "array_join(transform(_pos,"
                " p -> element_at(_t, cast(p + 1 as int))), ' ')"
            ).alias("text_clean"),
        )
    )


def incremental_substring_dedup(
    new_docs: DataFrame,
    existing_windows: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """substring_dedup for an INCREMENT against a persisted window
    index ((win_h1, win_h2) distinct hashes of all earlier batches —
    16 bytes per distinct window, never corpus text). A window whose
    hash is indexed has its first occurrence in history, so EVERY new
    occurrence of it is removal coverage; fresh hashes get the
    first-occurrence rule within the increment. With doc-ordered
    batches (ids ascending across batches — every index twin's
    contract) this reproduces full-corpus substring_dedup bit-for-bit
    for the batch's docs: an indexed hash's global winner is its
    earlier-batch occurrence, a fresh hash's is its within-batch one,
    and later batches can never steal a min-(doc, pos) win from
    earlier rows. Old text is never re-read. Returns (report,
    fresh_windows) — the per-new-doc report and the index delta to
    persist (the incremental_span_dedup contract)."""
    from degdb_spark.persistence import pin

    L = int(min_tokens)
    toked = new_docs.select(id_col, tokens(text_col).alias("_t"))
    idx = existing_windows.select(
        F.col("win_h1").alias("h1"), F.col("win_h2").alias("h2")
    )
    # winners exist among FRESH occurrences only; every indexed (stale)
    # occurrence falls into the dense-range complement automatically.
    # Pinned: feeds both the winner rollup and the index delta.
    fresh_occ = pin(
        _window_occurrences(toked, id_col, L).join(
            idx, on=["h1", "h2"], how="left_anti"
        )
    )
    report = _substring_remove_and_reassemble(
        toked, _winner_starts(fresh_occ, id_col), id_col, L
    )
    fresh = fresh_occ.select(
        F.col("h1").alias("win_h1"), F.col("h2").alias("win_h2")
    ).distinct()
    return report, fresh


def semantic_contamination(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """EMBEDDING-SPACE benchmark decontamination (VERDICT r12 "What's
    missing" #3): the semantic twin of contamination_report for the
    documented failure mode of n-gram checks — PARAPHRASED benchmark
    leakage shares no 3-gram but sits next to the eval item in
    embedding space (the Phi/LLaMA-era decontamination recipe).

    Each benchmark vector probes its ``n_probe`` nearest IVF cells
    (pinned centroid literals — the emb_ivf_fixed_knn machinery) and
    only same-cell corpus vectors are cosine-scored: INDEX-PRUNED
    candidate generation, never all-pairs, the same plan family every
    persisted-ANN consumer uses. A corpus vector with any probed
    cosine >= ``threshold`` is semantically contaminated.

    Returns (id_col, n_sem_hits, max_sim, sem_contaminated):
    n_sem_hits = benchmark vectors matched at >= threshold; max_sim =
    best probed cosine against ANY benchmark vector (NULL -> -1.0 for
    never-probed docs so the column totals are engine-stable).

    Scale shape (100 TB): assignment is an argmin over centroid
    literals (codegen); the bench probe side is benchmark-sized (tiny
    by definition) and broadcast; one cell equi-join + one
    groupBy(doc) shuffle. Misses follow IVF recall — the documented
    approximation contract, shared with emb_ann_recall."""
    from degdb_spark.operators.ml_lsh import (
        _cell_scores,
        _centroid_struct_lit,
        _probes_from,
    )
    from degdb_spark.operators.similarity import cosine
    from degdb_spark.queries.rounding import dround

    cent_lit = _centroid_struct_lit(centroids)
    assigned = corpus_emb.select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        F.array_sort(_cell_scores(F.col(vec_col), cent_lit))[0]["cell"].alias(
            "cell"
        ),
    )
    probes = _probes_from(bench_emb, cent_lit, n_probe, id_col, vec_col)
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .withColumn("_sim", dround(cosine(F.col("qvec"), F.col("_cv")), round_dp))
    )
    hits = scored.groupBy(id_col).agg(
        F.sum((F.col("_sim") >= threshold).cast("int"))
        .cast("long")
        .alias("n_sem_hits"),
        F.max("_sim").alias("max_sim"),
    )
    return (
        corpus_emb.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_sem_hits", F.lit(0)).cast("long").alias("n_sem_hits"),
            F.coalesce("max_sim", F.lit(-1.0)).alias("max_sim"),
            (F.coalesce("n_sem_hits", F.lit(0)) > 0).alias("sem_contaminated"),
        )
    )


def fuzzy_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """FUZZY (MinHash-LSH) benchmark decontamination — the middle rung
    of the decontamination ladder between the exact n-gram check
    (contamination_report: misses any edit) and the semantic check
    (semantic_contamination: needs embeddings): a lightly edited
    benchmark copy — whitespace/casing churn, a few swapped words —
    shares most shingles, so it band-collides with the eval doc and
    verifies at token-set Jaccard >= ``threshold``. This is the GPT-3
    appendix-C style fuzzy dedup applied bench-vs-corpus.

    Plan shape (100 TB): both sides get the standard band table
    (band_table — 3 narrow values per doc-band); the BENCHMARK side is
    broadcast (eval sets are tiny by definition), the corpus side
    streams through one equi-join on (band, band_hash); only candidate
    ENDPOINTS are tokenized for verification (the ngram_jaccard_pairs
    prune). No corpus self-join anywhere — cost is one corpus sketch
    pass + work proportional to collisions with the bench.

    Returns (id_col, n_bench_matches, max_jaccard, fuzzy_contaminated)
    over every corpus doc; max_jaccard = −1.0 for never-candidate docs
    (the semantic_contamination convention). Jaccard arithmetic is
    identical to ngram_jaccard_pairs (4-dp floor-round), so the oracle
    replays the whole pipeline through the shared MinHash CTE chain."""
    from degdb_spark.persistence import pin

    cb = band_table(corpus, text_col, id_col, shingle_k, num_hashes, bands)
    bb = band_table(bench, text_col, id_col, shingle_k, num_hashes, bands)
    cand = pin(
        cb.alias("c")
        .join(
            F.broadcast(bb.alias("b")),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col(f"c.{id_col}").alias("_cid"),
            F.col(f"b.{id_col}").alias("_bid"),
        )
        .distinct()
    )
    ctoks = corpus.join(
        cand.select(F.col("_cid").alias(id_col)).distinct(),
        on=id_col,
        how="left_semi",
    ).select(
        F.col(id_col).alias("_cid"),
        F.array_distinct(tokens(text_col)).alias("ts_c"),
    )
    btoks = bench.join(
        cand.select(F.col("_bid").alias(id_col)).distinct(),
        on=id_col,
        how="left_semi",
    ).select(
        F.col(id_col).alias("_bid"),
        F.array_distinct(tokens(text_col)).alias("ts_b"),
    )
    inter = F.size(F.array_intersect("ts_c", "ts_b"))
    union = F.size(F.array_union("ts_c", "ts_b"))
    verified = (
        cand.join(ctoks, on="_cid")
        .join(F.broadcast(btoks), on="_bid")
        .withColumn(
            "jaccard",
            dround(F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 4),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    hits = verified.groupBy("_cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_bench_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        corpus.select(id_col)
        .join(hits.withColumnRenamed("_cid", id_col), on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_bench_matches", F.lit(0))
            .cast("long")
            .alias("n_bench_matches"),
            F.coalesce("max_jaccard", F.lit(-1.0)).alias("max_jaccard"),
            (F.coalesce("n_bench_matches", F.lit(0)) > 0).alias(
                "fuzzy_contaminated"
            ),
        )
    )
