"""In-plan multinomial Naive Bayes training + scoring.

The fourth trained-model family member (IVF: unrolled Lloyd, BPE:
unrolled argmax merges, tree: exact integer split search): train a
multinomial NB text classifier and score a held-out split entirely as
ONE Catalyst plan — token counting, Laplace smoothing, log-prior and
log-likelihood accumulation, and the per-document argmax are all
DataFrame operations; nothing is collected to the driver.

Cross-engine exactness: every log term is quantized to integer
micronats (floor(ln(x)·10⁶ + 0.5)) BEFORE summation, so scores are
exact integers — summation order cannot drift them, and the per-doc
argmax (with the label-ascending tie-break) is bit-stable between
Spark and the DuckDB oracle. Unseen test tokens (absent from the
training vocabulary) are ignored, the standard multinomial NB choice;
in-vocabulary tokens unseen for a PARTICULAR class get the Laplace
pseudo-count.

Scale shape: token counts are one groupBy over the exploded train
corpus (map-side partial agg); the likelihood table is |vocab|·|labels|
rows (bounded by the vocabulary, never by the corpus); scoring is one
equi-join of test tokens against that table plus one groupBy — at
100 TB the likelihood table is broadcast-sized for any real label set
and the corpus passes stay fully parallel.

Reference provenance: degdb has no ML surface; this implements the
in-plan model-training leg of the training-pipeline extension
(SURVEY.md §2.6), companion to operators/tree.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from degdb_spark.operators.sampling import md5_bucket
from degdb_spark.operators.text import tokens
from degdb_spark.persistence import pin

#: micronat quantization scale for log terms (see module docstring)
LOG_SCALE = 1_000_000


def _qlog(col) -> F.Column:
    """floor(ln(x)·10⁶ + 0.5) as BIGINT — the integer micronat."""
    return F.floor(F.log(col) * LOG_SCALE + F.lit(0.5)).cast("long")


def train_predict_nb(
    docs: DataFrame, label_col: str = "lang", test_pct: int = 20
) -> DataFrame:
    """Train multinomial NB on the deterministic md5 train split and
    score the held-out docs; returns the confusion matrix
    (actual, predicted, n_docs) ordered by both labels."""
    split = F.when(md5_bucket("doc_id", 100) < test_pct, "test").otherwise("train")
    base = docs.select(
        "doc_id", F.col(label_col).alias("actual"), split.alias("split")
    )
    # five consumers read the exploded token frame (counts, totals,
    # vocab, and the test-scoring join) — pin one materialization.
    # split/label ride INLINE with the explode: the md5 bucket is
    # re-evaluated once per token occurrence (pure codegen CPU) which
    # beats shuffling the corpus-sized token frame for a doc_id join
    # back to the doc-level frame (the DSIR bucket-hash trade-off)
    tok = pin(
        docs.select(
            "doc_id",
            F.col(label_col).alias("actual"),
            split.alias("split"),
            F.explode(tokens("text")).alias("token"),
        ).filter(F.col("token") != "")
    )
    train_tok = tok.filter(F.col("split") == "train")
    test_tok = tok.filter(F.col("split") == "test").select("doc_id", "token")

    counts = train_tok.groupBy("actual", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    ).withColumnRenamed("actual", "cand")
    nd = (
        base.filter(F.col("split") == "train")
        .groupBy("actual")
        .agg(F.count(F.lit(1)).alias("nd"))
        .withColumnRenamed("actual", "cand")
    )
    test_docs = base.filter(F.col("split") == "test").select("doc_id", "actual")
    return predict_from_stats(counts, nd, test_docs, test_tok)


def predict_from_stats(
    counts: DataFrame, nd: DataFrame, test_docs: DataFrame, test_tok: DataFrame
) -> DataFrame:
    """Score documents from the NB sufficient statistics alone:
    ``counts`` = (cand, token, cnt) train token counts, ``nd`` =
    (cand, nd) train doc counts, ``test_docs`` = (doc_id, actual),
    ``test_tok`` = (doc_id, token). Both stats tables are ADDITIVE, so
    per-part tables summed give the same confusion matrix as the full
    corpus.
    Totals, vocabulary, and the train doc total all derive from the
    stats in-plan."""
    # the label axis comes from nd (doc counts), NOT from the token
    # counts: a label whose training docs are all token-less must still
    # get a Laplace-smoothed distribution (total = 0 → every token at
    # 1/(0+V)) — deriving labels from counts would drop it from the
    # likelihood table and its scores would collapse to the bare prior
    totals = (
        nd.select("cand")
        .join(counts.groupBy("cand").agg(F.sum("cnt").alias("total")), "cand", "left")
        .fillna({"total": 0})
    )
    vocab = counts.select("token").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))  # 1 row, stays in-plan
    n_train = nd.agg(F.sum("nd").alias("nt"))  # 1 row

    # the label-axis frames are tiny by construction (|labels| rows, or
    # 1 row) — broadcast them explicitly so the cross joins are
    # replicated maps, never a CartesianProduct node
    loglik = (
        vocab.crossJoin(F.broadcast(totals))
        .join(counts, ["cand", "token"], "left")
        .fillna({"cnt": 0})
        .crossJoin(F.broadcast(vsize))
        .select(
            "cand",
            "token",
            _qlog(
                (F.col("cnt") + 1).cast("double")
                / (F.col("total") + F.col("v")).cast("double")
            ).alias("llq"),
        )
    )
    priors = nd.crossJoin(F.broadcast(n_train)).select(
        "cand",
        _qlog(F.col("nd").cast("double") / F.col("nt").cast("double")).alias("pq"),
    )

    cand_scores = (
        test_tok.join(loglik, "token")
        .groupBy("doc_id", "cand")
        .agg(F.sum("llq").alias("ts"))
    )
    scored = (
        test_docs.crossJoin(F.broadcast(priors))
        .join(cand_scores, ["doc_id", "cand"], "left")
        .fillna({"ts": 0})
        .withColumn("score", F.col("ts") + F.col("pq"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand"))
    pred = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        pred.groupBy("actual", F.col("cand").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual", "predicted")
    )
