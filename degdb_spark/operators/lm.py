"""In-plan bigram language-model training + perplexity scoring.

The CCNet selection op (Wenzek et al. 2019, "CCNet: Extracting High
Quality Monolingual Datasets from Web Crawl Data", arXiv:1911.00359):
score every document by the per-token negative log-likelihood of a
language model trained on a reference corpus and keep the
low-perplexity (fluent) tail — the single most common model-based
quality gate in real pretraining pipelines. CCNet uses a 5-gram
KenLM; this is the bigram + add-one-smoothing member of the family,
which keeps the model a DataFrame (the count tables) and the whole
train+score loop one Catalyst plan.

Model, defined exactly (the oracle replays it):

- train split = the md5 80% of documents (the operators/nb.py split);
- vocab = distinct non-empty train tokens, V = |vocab|;
- a document's scoring pairs are (BOS, t1), (t1, t2), …; a pair is
  ELIGIBLE iff its right token is in vocab, its left token has a
  train context count (appears as a left element in train pairs — BOS
  included), and neither side is the empty token;
- pair cost in integer MICRONATS (the nb.py discipline —
  floor-quantized BEFORE summation, so per-doc sums are exact
  integers and ranking cannot drift with float order):
  nll(a, b) = −floor(ln((c(a,b) + 1) / (c(a) + V)) · 10⁶ + 0.5);
- doc score = Σ nll over eligible pairs; the report ranks the 20
  LOWEST average-nll held-out docs (avg as ONE double expression,
  6-dp floor-rounded, ties by doc_id).

Plan shape: train counts are two map-side-combinable groupBys over
the exploded train pairs (state bounded by observed bigrams, Heaps-
bounded like the BPE histogram); scoring is the test pairs equi-
joined against the count tables (broadcast-sized for any real vocab)
and one per-doc groupBy; V rides as a broadcast 1-row frame. No
window over anything data-sized; top-20 is TakeOrderedAndProject.

BOS is the literal '<s>' — a whitespace-tokenized corpus cannot
produce it as a token unless the raw text contains it verbatim, in
which case it (harmlessly) shares counts with sentence starts.

Reference provenance: degdb has no ML surface; training-pipeline
extension (SURVEY.md §2.6), companion to operators/nb.py whose
micronat quantization and md5 split it reuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from degdb_spark.operators.nb import LOG_SCALE, _qlog
from degdb_spark.operators.sampling import md5_bucket
from degdb_spark.operators.text import tokens
from degdb_spark.persistence import pin
from degdb_spark.queries.rounding import dround

BOS = "<s>"


def _pairs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, a, b): every adjacent token pair with the BOS prepend,
    built in codegen under the explode generator; empty tokens drop
    (split('') yields [''])."""
    pair_arr = F.expr(
        f"transform(sequence(1, size(_t)), i -> struct("
        f" if(i = 1, '{BOS}', element_at(_t, i - 1)) as a,"
        f" element_at(_t, i) as b))"
    )
    return (
        docs.select(F.col(id_col), tokens(text_col).alias("_t"))
        .select(id_col, F.explode(pair_arr).alias("p"))
        .select(id_col, "p.a", "p.b")
        .filter((F.col("a") != "") & (F.col("b") != ""))
    )


def bigram_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_pct: int = 20,
) -> DataFrame:
    """(a, b, n): the ADDITIVE sufficient statistic of the bigram LM —
    adjacent-pair counts over the md5 train split (the split is
    re-derived per input, so any slicing of the corpus gives identical
    membership). Context counts, the vocab, and V all derive from this
    one table."""
    split_train = md5_bucket(id_col, 100) >= test_pct
    return (
        _pairs(docs.filter(split_train), id_col, text_col)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def score_from_counts(
    docs: DataFrame,
    counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_pct: int = 20,
    top: int = 20,
) -> DataFrame:
    """Score the md5 held-out docs against a (a, b, n) bigram-count
    table (bigram_counts of the full corpus, or a sum of per-part
    bigram_counts — identical by additivity) and return the ``top``
    lowest-average-nll rows: (doc_id, n_scored, nll_micro, avg_nll).
    Docs with zero eligible pairs are unscoreable and excluded."""
    counts = pin(counts)
    big = counts.select("a", "b", F.col("n").alias("c_ab"))
    ctx = counts.groupBy("a").agg(F.sum("n").alias("c_a"))
    vocab = counts.select(F.col("b").alias("w")).distinct()
    v_size = F.broadcast(vocab.agg(F.count(F.lit(1)).alias("v")))

    split_test = md5_bucket(id_col, 100) < test_pct
    test_pairs = _pairs(docs.filter(split_test), id_col, text_col)
    scored = (
        test_pairs.join(vocab, test_pairs["b"] == vocab["w"], "leftsemi")
        .join(ctx, on="a")  # inner: left token must have a context count
        .join(big, on=["a", "b"], how="left")
        .crossJoin(v_size)
        .select(
            id_col,
            (
                -_qlog(
                    (F.coalesce("c_ab", F.lit(0)) + 1).cast("double")
                    / (F.col("c_a") + F.col("v"))
                )
            ).alias("nll"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("nll").alias("nll_micro"),
        )
        .select(
            id_col,
            F.col("n_scored").cast("long").alias("n_scored"),
            F.col("nll_micro").cast("long").alias("nll_micro"),
            dround(F.col("nll_micro") / F.col("n_scored") / LOG_SCALE, 6).alias(
                "avg_nll"
            ),
        )
        .orderBy("avg_nll", id_col)
        .limit(top)
    )


def train_score_bigram_lm(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_pct: int = 20,
    top: int = 20,
) -> DataFrame:
    """Train on the md5 (100−test_pct)% split and score the held-out
    docs — bigram_counts composed with score_from_counts."""
    return score_from_counts(
        docs,
        bigram_counts(docs, id_col, text_col, test_pct),
        id_col,
        text_col,
        test_pct,
        top,
    )
