"""pyspark.ml LSH wrappers — the MLlib-native alternative paths for
near-dup and similarity search (SURVEY.md §7 Phase 6 named both).

These wrap the expression-based implementations' siblings from
pyspark.ml.feature:

- MinHashLSH over a sparse shingle-set vector (near-dup candidates via
  approxSimilarityJoin on Jaccard distance);
- BucketedRandomProjectionLSH over embeddings (Euclidean ANN).

When to choose which: the expression-based operators (operators/
dedup.py, operators/similarity.py) keep everything in whole-stage
codegen and need no fitted model, which suits incremental
jobs; the ml.feature versions integrate with Pipeline persistence and
give approxSimilarityJoin/approxNearestNeighbors APIs. Both are
banding-style: cost tracks collisions, never n².
"""

from __future__ import annotations

from pyspark.ml.feature import BucketedRandomProjectionLSH, MinHashLSH
from pyspark.ml.linalg import VectorUDT
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from degdb_spark.operators.text import shingle_fingerprints
from degdb_spark.persistence import pin

#: dimensionality of the shingle-hash space for the sparse set vectors
SHINGLE_SPACE = 1 << 18


def _dense_features(vec_col: str):
    """array<float/double> → dense MLlib vector via the JVM-native
    pyspark.ml.functions.array_to_vector (Spark ≥3.1) — stays inside
    codegen instead of round-tripping every corpus row through a
    Python worker (the former ``F.udf(Vectors.dense)`` here was the
    last row-at-a-time Python UDF in any query path)."""
    from pyspark.ml.functions import array_to_vector

    return array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")


def _shingle_vector_udf():
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType

    # Arrow-batched: VectorUDT's sqlType is a struct, so the pandas UDF
    # returns a DataFrame shaped like that struct (sparse form: type=0)
    # — ~10-100x less per-row overhead than a plain Python UDF on wide
    # batches. Eval type passed explicitly: the module's string
    # annotations (future import) defeat hint inference.
    @F.pandas_udf(VectorUDT(), PandasUDFType.SCALAR)
    def to_vec(hashes):
        rows = []
        for hs in hashes:
            idx = sorted({int(h) % SHINGLE_SPACE for h in (hs if hs is not None else [])})
            rows.append(
                {
                    "type": 0,
                    "size": SHINGLE_SPACE,
                    "indices": idx,
                    "values": [1.0] * len(idx),
                }
            )
        return pd.DataFrame(rows)

    return to_vec


def ml_minhash_neardups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hash_tables: int = 8,
    jaccard_distance: float = 0.6,
) -> DataFrame:
    """Near-dup pairs via pyspark.ml MinHashLSH approxSimilarityJoin.

    Returns (id_a, id_b, jaccard_dist) with id_a < id_b.
    """
    to_vec = _shingle_vector_udf()
    # Two-step materialization: shingle hashes are pure JVM expressions
    # (checkpoint 1); the vector UDF then runs over that trivial input
    # and is checkpointed too — MLlib's fit/join paths try to eval the
    # input expression tree directly, which an unextracted Python UDF
    # can't support (Spark INTERNAL_ERROR seen when the UDF sits over a
    # deep higher-order-function tree).
    hashes = df.select(
        F.col(id_col), shingle_fingerprints(text_col, shingle_k).alias("_hashes")
    ).transform(pin, eager=True)
    feats = hashes.select(
        F.col(id_col), to_vec(F.col("_hashes")).alias("features")
    ).transform(pin, eager=True)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    ).fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, jaccard_distance, distCol="jaccard_dist")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def ml_brp_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """Euclidean ANN via BucketedRandomProjectionLSH
    approxNearestNeighbors, one query at a time (MLlib's API shape), or
    approxSimilarityJoin for batch mode. Returns (query_id, neighbor_id,
    eucl_dist, rank)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dense_features(vec_col)
    ).transform(pin, eager=True)
    q = queries.select(
        F.col(id_col).alias("query_id"), _dense_features(vec_col)
    ).transform(pin, eager=True)
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    ).fit(c)
    # batch mode: similarity join within a distance envelope, then top-k
    joined = model.approxSimilarityJoin(q, c, float("inf"), distCol="eucl_dist")
    from pyspark.sql import Window

    scored = joined.select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.neighbor_id").alias("neighbor_id"),
        F.round("eucl_dist", 4).alias("eucl_dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("eucl_dist"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _sql_double(x: float) -> str:
    """Exact double literal for an F.expr string: repr is the shortest
    round-trip form and string→double CAST is correctly-rounded
    parseDouble, so the parsed value is bit-identical to the Python
    float."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _centroid_struct_lit(centroids):
    """The k centroid vectors (k·dim floats — tiny) as an
    array-of-structs literal: (cv, c2=|cv|², cell). Riding centroids as
    an in-plan literal keeps probe assignment fully distributed — no
    driver collect, the query side can be a full table.

    Built as ONE F.expr string: assembling it Column-by-Column costs
    ~2 py4j round trips per scalar, and at k·dim scalars that driver
    chatter dominates query CONSTRUCTION time (measured ~1-2 s per
    call at k=10, dim=64 — every Lloyd round pays it); parsing one SQL
    string is a single round trip and value-exact (_sql_double)."""
    structs = []
    for cell, ctr in enumerate(centroids):
        cv = ", ".join(_sql_double(x) for x in ctr)
        c2 = _sql_double(sum(float(x) * float(x) for x in ctr))
        structs.append(
            f"named_struct('cv', array({cv}), 'c2', {c2}, 'cell', {int(cell)})"
        )
    return F.expr("array(" + ",\n".join(structs) + ")")


def _cell_scores(vec_col, cent_lit):
    """Per-centroid ranking key as an array<struct<score, cell>>:
    score = |c|² - 2·v·c, which orders cells identically to squared
    Euclidean distance (the |v|² term is constant per row) while
    keeping every arithmetic op in the double domain — so a DuckDB
    oracle computing `c2 - 2*list_dot_product(v, cv)` reproduces the
    exact ordering (same discipline as the SRP sign bits)."""
    from degdb_spark.operators.similarity import _dot

    return F.transform(
        cent_lit,
        lambda ctr: F.struct(
            (ctr["c2"] - 2.0 * _dot(vec_col, ctr["cv"])).alias("score"),
            ctr["cell"].alias("cell"),
        ),
    )


def _ivf_probe_rerank(
    assigned: DataFrame,
    probes: DataFrame,
    k: int,
    broadcast_probes: bool,
) -> DataFrame:
    """Candidate generation (equi-join on cell) + exact cosine re-rank.

    ``broadcast_probes=True`` is for genuinely small query sets; with a
    corpus-sized query side it must be False so the join shuffles both
    sides on cell instead of replicating n_probe× the query table to
    every executor (same flag contract as similarity.lsh_topk's
    ``broadcast_queries``).
    """
    from degdb_spark.operators.similarity import cosine
    from degdb_spark.queries.rounding import dround
    from pyspark.sql import Window

    probe_side = F.broadcast(probes) if broadcast_probes else probes
    cand = assigned.join(probe_side, on="cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cosine_sim", dround(cosine(F.col("qvec"), F.col("cvec")), 4)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _probes_from(queries: DataFrame, cent_lit, n_probe: int, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qvec, cell) — each query exploded to its n_probe
    nearest cells, ranked in-plan via array_sort over the centroid
    literal (ties broken by cell id, deterministically)."""
    return (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .withColumn(
            "_near",
            F.slice(
                F.array_sort(_cell_scores(F.col("qvec"), cent_lit)), 1, n_probe
            ),
        )
        .select("query_id", "qvec", F.explode("_near.cell").alias("cell"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into centroid cells; each query probes its
    ``n_probe`` nearest cells and exact cosine re-ranks only those.

    The scale path beyond SRP when the corpus is clusterable: cell
    assignment is one fitted-model transform (a broadcast of k centroid
    vectors), candidate generation an equi-join on cell id — identical
    shuffle shape to the LSH paths, but data-adaptive. The training pass
    is the price SRP avoids. Set ``broadcast_probes=False`` when the
    query side is a table rather than a handful of vectors.
    """
    from pyspark.ml.clustering import KMeans

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _dense_features(vec_col),
    ).transform(pin, eager=True)
    model = KMeans(k=n_centroids, seed=42, featuresCol="features").fit(c)
    assigned = model.transform(c).select(
        "neighbor_id", "cvec", F.col("prediction").alias("cell")
    )
    cent_lit = _centroid_struct_lit(model.clusterCenters())
    probes = _probes_from(queries, cent_lit, n_probe, id_col, vec_col)
    return _ivf_probe_rerank(assigned, probes, k, broadcast_probes)


def lloyd_centroids(
    train: DataFrame,
    init: list[list[float]],
    n_rounds: int = 2,
    vec_col: str = "embedding",
    dp: int = 6,
) -> list[list[float]]:
    """Deterministic seeded Lloyd iteration, fully relational — the
    oracle-replayable k-means that retires the MLlib ``KMeans.fit``
    path for contract queries (its trained centroids were
    engine-specific, so `emb_ivf_knn` could only ever be rows-only).

    Each round: nearest-centroid assignment against the current
    centroid literals (the same |c|²-2·v·c double-domain key as
    ivf_topk_fixed, ties by cell id), then per-(cell, coordinate)
    means accumulated in DECIMAL — order-independent, so the result is
    bit-identical across partitionings AND engines — divided in the
    double domain and FLOOR-rounded to ``dp`` decimals. Cells that
    captured no points keep their previous centroid. A DuckDB oracle
    unrolls the same rounds as CTEs (embeddings_queries._ivf_lloyd_sql)
    and reproduces every centroid bit-for-bit.

    Scale shape (100 TB): pass a SAMPLED ``train`` frame — k-means
    quality needs a sliver of the corpus, and the full corpus is only
    touched by the one assign+probe pass that follows training. Per
    round the plan is one train-scan → argmin over k centroid literals
    → hash-agg grouped by cell with one decimal sum PER COORDINATE
    (map-side combined: the shuffle is k rows × dim columns per task).
    Grouping by cell over dim agg columns — rather than posexploding to
    (cell, pos, x) rows — keeps the argmin evaluated ONCE per row: with
    a Generate in the plan the optimizer floats the projection above
    the explode and the k·dim-literal argmin re-runs per array element,
    a measured dim× slowdown of the whole round. The only driver
    actions are ``n_rounds`` fetches of k·dim means — a seed-sized
    transfer, same budget as reading back a trained model.
    """
    cent = [[float(x) for x in c] for c in init]
    if not cent:  # empty init (empty-corpus callers): nothing to train
        return cent
    dim = len(cent[0])
    # every round consumes this projection; pinned so round 2+ reads
    # the materialized (sampled) slice instead of rescanning parquet
    from degdb_spark.persistence import pin

    # Spread the training slice before the rounds: a single-file
    # sample arrives as ONE scan partition and each round's argmin
    # then runs serially (stageprof: 636 ms round-1 collect on 1
    # task). Unconditional round-robin — NOT the partition-count
    # probing helper, whose plan-to-RDD probe costs more than this
    # narrow exchange (the r13 A/B that rejected rebalancing here
    # measured the probe+exchange variant). DECIMAL per-cell sums are
    # order-independent, so the result is bit-identical.
    vecs = train.select(F.col(vec_col).cast("array<double>").alias("v")).repartition(
        train.sparkSession.sparkContext.defaultParallelism
    )
    if n_rounds > 1:
        vecs = pin(vecs)

    # the round's aggregates as SQL strings (one py4j round trip each,
    # vs ~10 per Column-built dround/cast chain — 2·dim of those per
    # round otherwise dominate training time); `f`D double literals and
    # floor(x·f + 0.5)/f replicate queries.rounding.dround exactly
    f = f"{float(10 ** dp)!r}D"
    # decimal scale tracks dp (a fixed 6 would silently re-round any
    # caller's dp > 6 coordinates); 30-digit precision leaves >20
    # integer digits at any sane dp
    sums = [
        F.expr(
            f"sum(cast(floor(v[{p}] * {f} + 0.5D) / {f} as decimal(30,{int(dp)}))) AS s{p}"
        )
        for p in range(dim)
    ]
    means = ["cell"] + [
        f"floor(cast(s{p} as double) / n * {f} + 0.5D) / {f} AS m{p}"
        for p in range(dim)
    ]
    for _ in range(n_rounds):
        cent_lit = _centroid_struct_lit(cent)
        stats = (
            vecs.select(
                F.array_sort(_cell_scores(F.col("v"), cent_lit))[0]["cell"].alias(
                    "cell"
                ),
                "v",
            )
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .selectExpr(*means)
            .collect()
        )
        by_cell = {r["cell"]: [float(r[f"m{p}"]) for p in range(dim)] for r in stats}
        cent = [by_cell.get(c, cent[c]) for c in range(len(cent))]
    return cent


def ivf_topk_lloyd(
    corpus: DataFrame,
    queries: DataFrame,
    init_centroids: list[list[float]],
    n_rounds: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    broadcast_probes: bool = True,
    train_filter=None,
) -> DataFrame:
    """IVF top-k with a seeded-Lloyd-trained quantizer: train via
    lloyd_centroids (optionally on the ``train_filter`` slice — the
    production sampling shape), then run the pinned-centroid
    probe/re-rank pipeline on the result. Deterministic end to end, so
    the whole thing — training included — hash-checks against a DuckDB
    oracle; no Python UDF anywhere in the plan (plan-gated)."""
    train = corpus.filter(train_filter) if train_filter is not None else corpus
    cent = lloyd_centroids(train, init_centroids, n_rounds, vec_col)
    return ivf_topk_fixed(
        corpus,
        queries,
        cent,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        n_probe=n_probe,
        broadcast_probes=broadcast_probes,
    )


def ivf_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF probe/re-rank with externally supplied (pinned) centroids —
    no training pass. Corpus cell assignment uses the same in-plan
    nearest-centroid ranking as the probes, so the whole pipeline is a
    deterministic function of (data, centroid literals) and can be
    replayed exactly by a SQL oracle (embeddings_queries.IVF_FIXED_SQL).
    Also the production shape for periodic re-clustering at 100 TB:
    train centroids offline on a sample, pin them, assign + probe
    in-plan everywhere else.
    """
    cent_lit = _centroid_struct_lit(centroids)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.array_sort(_cell_scores(F.col(vec_col), cent_lit))[0]["cell"].alias("cell"),
    )
    probes = _probes_from(queries, cent_lit, n_probe, id_col, vec_col)
    return _ivf_probe_rerank(assigned, probes, k, broadcast_probes)


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) as a relational
    plan: nearest-centroid cell assignment against in-plan centroid
    literals, candidate pairs by EQUI-JOIN ON CELL (never all-pairs),
    exact cosine on candidates only, and the paper's keep policy — in
    any >=threshold pair the vector FARTHER from its cell centroid
    (lower rounded centroid-cosine, ties by id) survives, so each
    semantic-duplicate neighborhood keeps its most extreme member.
    Returns the per-cell dedup summary
    ``(cell, n_vectors, n_dropped, n_kept)``.

    Scale shape (100 TB): assignment is embarrassingly parallel
    (argmin over k centroid literals, whole-stage codegen); the only
    shuffles are the cell equi-join and the k-row summary aggregate.
    Cell populations stay bounded when k scales with corpus size (the
    paper's regime — k≈11k for LAION-440M); a hot cell is one
    straggler partition, fixed by raising k, not by the operator. The
    keep-rule filter runs BEFORE the cosine so each unordered pair is
    scored once, not twice.
    """
    # Reused three times (both pair sides + the summary); pinned so
    # the corpus scan + assignment runs once, not three times
    # (persistence.pin — spark.degdb.pin picks the cluster-safe flavor).
    from degdb_spark.persistence import pin

    assigned = pin(_semantic_assigned(corpus, centroids, id_col, vec_col, round_dp))
    dropped = (
        semantic_drop_pairs(assigned, threshold, round_dp)
        .select(F.col("drop_id").alias("vid"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        assigned.join(dropped, "vid", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("is_dropped").alias("n_dropped"),
        )
        .withColumn("n_kept", F.col("n_vectors") - F.col("n_dropped"))
        .select("cell", "n_vectors", "n_dropped", "n_kept")
    )


def _semantic_assigned(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """(vid, v, vnorm, cell, csim): nearest-centroid cell plus the
    rounded centroid-cosine the keep policy compares on. Rounding csim
    BEFORE any comparison is what keeps the keep-rule ties
    engine-stable. ``vnorm`` (=√(v·v), materialized once per row) lets
    every downstream pair cosine be a single dot product — same
    double values, a third of the per-pair arithmetic."""
    from degdb_spark.operators.similarity import _dot
    from degdb_spark.queries.rounding import dround

    if not centroids:  # degenerate empty-corpus/empty-init callers:
        # an empty array literal is array<void>, which the field
        # extracts below can't analyze — return the empty frame
        # directly with the contract schema
        return corpus.sparkSession.createDataFrame(
            [], "vid: long, v: array<double>, cell: int, vnorm: double, csim: double"
        )
    cent_lit = _centroid_struct_lit(centroids)
    sel = cent_lit[F.col("cell")]  # cell ids are 0..k-1 by construction
    return (
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.array_sort(_cell_scores(F.col(vec_col), cent_lit))[0]["cell"].alias(
                "cell"
            ),
        )
        .withColumn("vnorm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .withColumn(
            "csim",
            dround(
                _dot(F.col("v"), sel["cv"]) / (F.col("vnorm") * F.sqrt(sel["c2"])),
                round_dp,
            ),
        )
    )


def _keep_rule(xcs, ycs, xid, yid):
    """x is droppable against keeper y: y is FARTHER from the centroid
    (lower rounded csim), ties broken by id."""
    return (ycs < xcs) | ((ycs == xcs) & (yid < xid))


def semantic_drop_pairs(
    assigned: DataFrame,
    threshold: float,
    round_dp: int = 4,
) -> DataFrame:
    """Directed SemDeDup drop decisions (drop_id, keep_id, pair_sim):
    within-cell ordered pairs where the keeper is FARTHER from the
    centroid (keep rule on the rounded csim, ties by id) and the pair
    cosine clears the threshold. The keep-rule filter runs before the
    cosine so each unordered pair is scored once. The decision for a
    pair is a pure function of the two rows' (csim, vid) — independent
    of every other row — which is why sequential increments' emissions
    union to exactly the full-corpus pair set."""
    from degdb_spark.operators.similarity import _dot
    from degdb_spark.queries.rounding import dround

    x = assigned.select(
        F.col("vid").alias("xid"), F.col("v").alias("xv"),
        F.col("vnorm").alias("xn"), "cell", F.col("csim").alias("xcs"),
    )
    y = assigned.select(
        F.col("vid").alias("yid"), F.col("v").alias("yv"),
        F.col("vnorm").alias("yn"), "cell", F.col("csim").alias("ycs"),
    )
    return (
        x.join(y, "cell")
        .filter(F.col("xid") != F.col("yid"))
        .filter(_keep_rule(F.col("xcs"), F.col("ycs"), F.col("xid"), F.col("yid")))
        .withColumn(
            "pair_sim",
            dround(
                _dot(F.col("xv"), F.col("yv")) / (F.col("xn") * F.col("yn")),
                round_dp,
            ),
        )
        .filter(F.col("pair_sim") >= F.lit(float(threshold)))
        .select(
            F.col("xid").alias("drop_id"),
            F.col("yid").alias("keep_id"),
            "pair_sim",
        )
    )


def semantic_cell_table(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """(vec_id, cell, csim) — the persistable SemDeDup assignment index
    (the semantic twin of dedup.band_table / similarity.
    srp_bucket_table): three scalars per vector, written out after each
    ingest so the next increment probes assignments instead of
    re-scoring the corpus. Requires PINNED centroids (sample-then-pin,
    the emb_ivf_knn production shape); re-clustering is an index
    REBUILD, exactly like the PQ index's refresh contract."""
    return _semantic_assigned(corpus, centroids, id_col, vec_col, round_dp).select(
        F.col("vid").alias(id_col), "cell", "csim"
    )


def incremental_semantic_dedup(
    new_vecs: DataFrame,
    existing_cells: DataFrame,
    all_vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """SemDeDup drop decisions for an increment: assign ONLY the new
    batch, union with the persisted (vec_id, cell, csim) index, and
    emit every (drop_id, keep_id, pair_sim) touching a new vector.
    Old vectors are never re-assigned; old-vs-old is never re-paired;
    old RAW vectors are read only to score candidate pairs that
    already survived the cell + keep-rule filters (the csim stored in
    the index is what makes that pre-vector filtering possible).
    Sequential increments' emissions union to exactly the full-corpus
    semantic_drop_pairs set — parity-tested."""
    nc = _semantic_assigned(
        new_vecs, centroids, id_col, vec_col, round_dp
    ).transform(pin, eager=False)
    combined = (
        existing_cells.select(
            F.col(id_col).alias("vid"), "cell", "csim", F.lit(False).alias("is_new")
        )
        .unionByName(nc.select("vid", "cell", "csim", F.lit(True).alias("is_new")))
    )
    # candidate generation on the scalar index alone (no vectors yet):
    # cell equality + keep rule + at-least-one-new
    x = combined.select(
        F.col("vid").alias("xid"), "cell",
        F.col("csim").alias("xcs"), F.col("is_new").alias("x_new"),
    )
    y = combined.select(
        F.col("vid").alias("yid"), "cell",
        F.col("csim").alias("ycs"), F.col("is_new").alias("y_new"),
    )
    cand = (
        x.join(y, "cell")
        .filter(F.col("xid") != F.col("yid"))
        .filter(F.col("x_new") | F.col("y_new"))
        .filter(_keep_rule(F.col("xcs"), F.col("ycs"), F.col("xid"), F.col("yid")))
        .select(F.col("xid").alias("drop_id"), F.col("yid").alias("keep_id"))
    )
    from degdb_spark.operators.similarity import cosine
    from degdb_spark.queries.rounding import dround

    va = all_vectors.select(
        F.col(id_col).alias("drop_id"),
        F.col(vec_col).cast("array<double>").alias("_va"),
    )
    vb = all_vectors.select(
        F.col(id_col).alias("keep_id"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
    )
    return (
        cand.join(va, on="drop_id")
        .join(vb, on="keep_id")
        .withColumn("pair_sim", dround(cosine(F.col("_va"), F.col("_vb")), round_dp))
        .filter(F.col("pair_sim") >= F.lit(float(threshold)))
        .select("drop_id", "keep_id", "pair_sim")
    )
