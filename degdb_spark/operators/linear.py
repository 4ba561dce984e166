"""In-plan averaged-perceptron linear classifier (train + score).

The fifth trained-model family member (IVF: unrolled Lloyd, BPE:
unrolled argmax merges, tree: exact integer split search, NB:
micronat-exact likelihoods): train a multi-class linear text
classifier — the fastText-style quality/label filter that is the most
common trained gate in real pretraining pipelines — and score a
held-out split, with every corpus-sized step a DataFrame operation.

Model: batch multi-class perceptron over hashed bag-of-words features
(md5-bucketed tokens + a bias feature), run for a FIXED number of
iterations; scoring uses the summed per-iteration weights (the
averaged-perceptron estimator — the positive 1/T scale cannot change
an argmax, so the sum IS the average for prediction purposes).

Cross-engine exactness: the entire model is INTEGER — feature values
are token counts, updates are ±count sums, weights and scores are
exact BIGINTs. No logs, no ratios, no quantization step at all: the
per-doc argmax (score desc, label asc) is bit-stable between Spark
and the DuckDB oracle by construction, and the oracle unrolls the
fixed iterations as MATERIALIZED CTEs (w0 → s1/p1/u1/w1 → … → wavg),
the same shape as _bpe_train_sql.

Scale shape (the k-center/BPE scalar-collect discipline): the hashed
feature frame is built once and pinned (one exploded-corpus groupBy,
map-side combined; ≤(n_features+1) rows per doc). Each iteration is
one fully-parallel pass over that frame — an equi-join against the
BROADCAST (|labels|·(n_features+1))-row weight frame, a per-doc
struct-min argmax (a map-side-combinable aggregation, no window
sort), and a misclassification-delta groupBy — ending in a collect
of at most |labels|·(n_features+1) rows (the model grid, never the
corpus). The weight vector is the tiny per-round state;
at 100 TB nothing about this loop changes but the scan time.

Reference provenance: degdb has no ML surface; this implements the
in-plan model-training leg of the training-pipeline extension
(SURVEY.md §2.6), companion to operators/nb.py and operators/tree.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from degdb_spark.operators.balance import rebalance_for_compute
from degdb_spark.operators.sampling import md5_bucket
from degdb_spark.operators.text import tokens
from degdb_spark.persistence import pin_partitioned

#: hashed feature buckets (tokens hash into 0..N_FEATURES-1; the bias
#: feature is index N_FEATURES, value 1 for every doc)
N_FEATURES = 64
#: fixed perceptron iterations — part of the model definition (the
#: oracle unrolls exactly this many)
N_ITERS = 4


def hashed_features(
    docs: DataFrame, label_col: str, test_pct: int, n_features: int
) -> DataFrame:
    """(doc_id, actual, split, f, x): md5-bucketed token counts plus
    the always-present bias row (f = n_features, x = 1) so every doc —
    even a token-less one — has a scorable feature vector."""
    # a small parquet input arrives as ONE scan partition; the explode
    # + per-token md5 below is a compute-bound projection that would
    # serialize onto that single task (measured: the whole feature
    # build on 1 of 32 cores) — round-robin the raw docs first
    # (guide §2.5 input skew; the simhash/SRP discipline)
    docs = rebalance_for_compute(docs)
    split = F.when(md5_bucket("doc_id", 100) < test_pct, "test").otherwise("train")
    base = docs.select(
        "doc_id", F.col(label_col).alias("actual"), split.alias("split")
    )
    # split/label ride INLINE with the explode (the nb.py trade-off:
    # re-evaluating the md5 bucket per token occurrence is codegen CPU,
    # cheaper than shuffling the token frame for a doc-level join back)
    tokf = (
        docs.select(
            "doc_id",
            F.col(label_col).alias("actual"),
            split.alias("split"),
            F.explode(tokens("text")).alias("token"),
        )
        .filter(F.col("token") != "")
        .withColumn("f", md5_bucket("token", n_features).cast("int"))
        .groupBy("doc_id", "actual", "split", "f")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bias = base.select(
        "doc_id", "actual", "split",
        F.lit(n_features).cast("int").alias("f"),
        F.lit(1).cast("long").alias("x"),
    )
    return tokf.unionByName(bias)


def _weight_arrays(spark, labels: list[str], w: dict, n_features: int) -> DataFrame:
    """(f, warr): per-feature weight vector ordered by the sorted label
    list — the broadcastable pivot of the (cand, f, w) model grid. The
    weights stay DATA (a tiny createDataFrame per iteration, same plan
    shape every round), never plan literals: the literal-baked trainer
    measured faster isolated but degraded 2-5x late in long sessions
    (per-iteration-unique codegen) and was reverted on evidence in r13."""
    return spark.createDataFrame(
        [(f, [w[(l, f)] for l in labels]) for f in range(n_features + 1)],
        "f int, warr array<long>",
    )


def _scored_docs(feat: DataFrame, wdf: DataFrame, labels: list[str], keep_features: bool) -> DataFrame:
    """Per-doc scores + argmax label in ONE aggregation: the broadcast
    join on f attaches each feature's per-label weight vector, and the
    per-label sums ride as |labels| native SUM columns of a single
    groupBy(doc_id) — one exchange (none at all when ``feat`` is
    doc_id-partitioned, the train_predict_from_features layout) instead
    of the old join + two-level groupBy pyramid (scores, then argmax)
    that cost 2 exchanges per call. The argmax is the same
    lexicographic min over (−score, cand) structs — integers, so −s is
    exact and ties break (score desc, label asc) identically.
    ``keep_features`` additionally collects the doc's (f, x) pairs
    (≤ n_features+1 structs, a fixed bound at any scale) so the
    misclassification deltas can explode them directly instead of
    re-joining the corpus-sized feature frame."""
    # every per-label expression rides as ONE SQL string (the
    # operators/{dedup,boost,tree}.py device): the Column-built form
    # paid ~350 py4j round trips per call, and the trainer makes
    # n_iters+1 calls — construction chatter, not executor work.
    # Identical Catalyst expressions (long sums, lexicographic struct
    # min); the oracle hash gates the rewrite.
    agg_sqls = [f"sum(x * warr[{j}]) AS _s{j}" for j in range(len(labels))]
    if keep_features:
        agg_sqls.append("collect_list(struct(f, x)) AS fx")
    scored = (
        feat.join(F.broadcast(wdf), "f")
        .groupBy("doc_id", "actual")
        .agg(*[F.expr(s) for s in agg_sqls])
    )
    structs = [
        "named_struct('ns', (- _s{j}), 'cand', '{lit}')".format(
            j=j, lit=l.replace("'", "''")
        )
        for j, l in enumerate(labels)
    ]
    # least() needs >= 2 args; a single-label corpus argmaxes trivially
    best = structs[0] if len(structs) == 1 else "least(" + ", ".join(structs) + ")"
    keep = ["doc_id", "actual"] + (["fx"] if keep_features else [])
    return scored.selectExpr(*keep, f"({best}).cand AS pred")


def _predictions(feat: DataFrame, wdf: DataFrame) -> DataFrame:
    """Per-doc argmax label under a (cand, f, w) weight frame —
    the legacy grid-join shape: score(doc, cand) = Σ_f x·w via one
    equi-join on f against the broadcast model grid (every doc matches
    every label through the grid, so zero-score labels are present),
    tie-break (score desc, cand asc)."""
    scores = (
        feat.join(F.broadcast(wdf), "f")
        .groupBy("doc_id", "actual", "cand")
        .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
    )
    return (
        scores.groupBy("doc_id", "actual")
        .agg(
            F.min(
                F.struct((-F.col("s")).alias("ns"), F.col("cand").alias("cand"))
            ).alias("b")
        )
        .select("doc_id", "actual", F.col("b.cand").alias("pred"))
    )


def train_predict_linear(
    docs: DataFrame,
    label_col: str = "lang",
    test_pct: int = 20,
    n_features: int = N_FEATURES,
    n_iters: int = N_ITERS,
) -> DataFrame:
    """Train the averaged perceptron on the deterministic md5 train
    split and score the held-out docs; returns the confusion matrix
    (actual, predicted, n_docs) ordered by both labels."""
    return train_predict_from_features(
        hashed_features(docs, label_col, test_pct, n_features),
        n_features=n_features,
        n_iters=n_iters,
    )


def train_predict_from_features(
    feat: DataFrame, n_features: int = N_FEATURES, n_iters: int = N_ITERS
) -> DataFrame:
    """The training loop over a (doc_id, actual, split, f, x) hashed
    feature frame. The frame is a per-doc PROJECTION of the corpus
    (≤(n_features+1) small integers per doc vs kilobytes of text), so
    training from it never re-reads a document."""
    spark = feat.sparkSession

    # doc_id-partition the (narrow, integer) feature frame ONCE, then
    # pin_partitioned — NOT pin(): a checkpoint materializes as an
    # opaque ExistingRDD scan whose outputPartitioning is lost, so
    # every iteration's per-doc aggregation would re-shuffle; persist
    # keeps the plan (and its hashpartitioning(doc_id)), so the 4
    # training scans and the test scoring all run exchange-free over
    # the cached partitions (guide §2.4 "share one exchange"). The
    # partition count starts at defaultParallelism (scale-adaptive,
    # the rebalance_for_compute convention) rather than left to AQE:
    # byte-based coalescing folds the small integer frame to one
    # partition and every training iteration then runs its scoring
    # aggregate serially on one core (measured).
    dp = feat.sparkSession.sparkContext.defaultParallelism
    feat = pin_partitioned(feat.repartition(dp, F.col("doc_id")))
    # Second phase of the compact_pinned discipline, hash-preserving
    # flavor: the loop re-scans this frame 6+ times (labels, 4 training
    # passes, test scoring), so a small corpus paying a dp-task swarm
    # per pass is pure scheduler overhead (measured: the 4-iteration
    # loop at 2.6k-row partitions runs ~2x slower than at ~32k). Count
    # the materialized pin (a cached-RDD sweep) and, when the frame is
    # far below dp partitions' worth of rows, re-pin at
    # ceil(rows/32768) — repartition, NOT coalesce, so the
    # hashpartitioning(doc_id) the exchange-free iterations rely on is
    # preserved. Self-disables at scale: a corpus-sized frame keeps dp.
    n_feat_rows = feat.count()
    want = max(2, -(-n_feat_rows // 32768))
    if want < dp // 2:
        feat2 = pin_partitioned(feat.repartition(want, F.col("doc_id")))
        feat2.count()
        feat.unpersist(blocking=False)
        feat = feat2
    train_feat = feat.filter(F.col("split") == "train")
    test_feat = feat.filter(F.col("split") == "test")

    labels = sorted(
        r.actual
        for r in train_feat.select("actual").distinct().collect()
    )
    if not labels:
        raise ValueError("train_predict_linear: no training documents")
    grid = [(l, f) for l in labels for f in range(n_features + 1)]
    w: dict[tuple[str, int], int] = {lf: 0 for lf in grid}
    w_sum: dict[tuple[str, int], int] = {lf: 0 for lf in grid}

    for _ in range(n_iters):
        wdf = _weight_arrays(spark, labels, w, n_features)
        # misclassified docs carry their own (f, x) pairs out of the
        # scoring aggregate, so the delta pass explodes them in-task
        # (±1 × count per feature) instead of re-joining the feature
        # frame — one tiny (cand, f) exchange per iteration, then a
        # model-grid-sized collect (never the corpus).
        miscl = _scored_docs(train_feat, wdf, labels, keep_features=True).filter(
            F.col("pred") != F.col("actual")
        )
        deltas = (
            miscl.select(
                F.explode(
                    F.array(
                        F.struct(F.col("actual").alias("cand"), F.lit(1).alias("sgn")),
                        F.struct(F.col("pred").alias("cand"), F.lit(-1).alias("sgn")),
                    )
                ).alias("t"),
                "fx",
            )
            .select("t.cand", "t.sgn", F.explode("fx").alias("e"))
            .groupBy("cand", F.col("e.f").alias("f"))
            .agg(F.sum(F.col("sgn") * F.col("e.x")).alias("dw"))
            .collect()  # ≤ |labels|·(n_features+1) rows — the model grid
        )
        for r in deltas:
            w[(r.cand, r.f)] += int(r.dw)
        for lf in grid:
            w_sum[lf] += w[lf]

    wavg = _weight_arrays(spark, labels, w_sum, n_features)
    out = (
        _scored_docs(test_feat, wavg, labels, keep_features=False)
        .groupBy("actual", F.col("pred").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual", "predicted")
    )
    return out


#: chars of text the language-ID featurizer reads per doc — language
#: identity is decidable from a short prefix (fastText's own demo
#: truncates), and the cap bounds the char-ngram explode at any scale
LANGID_MAX_CHARS = 256


def char_ngram_features(
    docs: DataFrame,
    label_col: str = "lang",
    test_pct: int = 20,
    n_features: int = N_FEATURES,
    n: int = 3,
    max_chars: int = LANGID_MAX_CHARS,
) -> DataFrame:
    """(doc_id, actual, split, f, x): md5-bucketed CHARACTER n-gram
    counts — the fastText language-ID feature family (Joulin et al.
    2016, "Bag of Tricks for Efficient Text Classification": hashed
    char n-grams capture orthography — accents, digraphs, script —
    that word-level stopword lists miss entirely). Feeding these to
    train_predict_from_features yields trained-model family member #9
    (VERDICT r12 "What's missing" #2), the production replacement for
    the stopword-voting heuristic (operators/text.predict_lang).

    Same frame contract as hashed_features, so trainer and oracle CTE
    chain apply unchanged. The text is
    lowercased and capped at ``max_chars`` chars, so the explode is
    <= max_chars rows per doc — a constant, not a document-length,
    bound. The bias row keeps gramless (too-short) docs scorable."""
    # single-file inputs otherwise serialize the char-gram explode +
    # 1M-row md5 chain onto one scan task (guide §2.5; measured 6.6 s
    # → sub-second once spread) — same rebalance as hashed_features
    docs = rebalance_for_compute(docs)
    split = F.when(md5_bucket("doc_id", 100) < test_pct, "test").otherwise(
        "train"
    )
    base = docs.select(
        "doc_id", F.col(label_col).alias("actual"), split.alias("split")
    )
    t = F.lower(F.substring(F.trim(F.col("text")), 1, max_chars))
    # the gram array is built INSIDE the generator argument (evaluated
    # once per row — the safe side of the explode-projection trap) and
    # only the cheap md5 bucket rides per exploded element
    grams = F.when(
        F.length("_t") >= n,
        F.transform(
            F.sequence(F.lit(1), F.length("_t") - (n - 1)),
            lambda i: F.substr(F.col("_t"), i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gramf = (
        docs.select(
            "doc_id",
            F.col(label_col).alias("actual"),
            split.alias("split"),
            t.alias("_t"),
        )
        .select(
            "doc_id", "actual", "split", F.explode(grams).alias("gram")
        )
        .withColumn("f", md5_bucket("gram", n_features).cast("int"))
        .groupBy("doc_id", "actual", "split", "f")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    bias = base.select(
        "doc_id", "actual", "split",
        F.lit(n_features).cast("int").alias("f"),
        F.lit(1).cast("long").alias("x"),
    )
    return gramf.unionByName(bias)
