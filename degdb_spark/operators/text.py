"""Text-analysis operators for training-data pipelines.

All expressions are JVM-side built-ins (no Python UDFs in the hot path):
at 100 TB these run inside whole-stage codegen over the parquet scan with
only the final aggregation shuffling.

Operators: tokenization, token counting (whitespace + BPE-ish regex),
quality scoring (length/punct/digit/stopword ratios), language-ID
(stopword-marker voting), document fingerprinting (normalized-text hash +
rolling shingle fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from degdb_spark.queries.rounding import dround

#: Marker words per language for the n-gram/stopword-voting heuristic.
#: Deterministic and tiny → broadcast as literals into codegen.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "no"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我"],
}

#: A BPE-ish token pattern: runs of word chars OR single non-space symbol —
#: the cheap proxy for subword token counting.
BPE_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased, trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(tokens(c)))


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish tokens (alnum runs + individual symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0))


def char_class_ratio(col: Column | str, pattern: str) -> Column:
    """Fraction of characters matching a regex char class, 4 dp."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    kept = n - F.length(F.regexp_replace(c, pattern, ""))
    return dround(F.when(n == 0, F.lit(0.0)).otherwise(kept / n), 4)


def stopword_hits(col: Column | str, markers: list[str]) -> Column:
    """Occurrences (with repeats) of marker words among tokens."""
    c = F.col(col) if isinstance(col, str) else col
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens(c), lambda t: F.array_contains(arr, t)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite score in [0, 1].

    Mirrors the length/punct/stopword-ratio style scoring of public
    pretraining-data pipelines (C4/Gopher-style rules), columnar.
    """
    ntok = token_count(text_col)
    en_hits = stopword_hits(text_col, LANG_MARKERS["en"])
    return (
        df.withColumn("n_tokens", ntok)
        .withColumn("alpha_ratio", char_class_ratio(text_col, "[A-Za-z]"))
        .withColumn("digit_ratio", char_class_ratio(text_col, "[0-9]"))
        .withColumn("punct_ratio", char_class_ratio(text_col, r"[^\w\s]"))
        .withColumn(
            "avg_token_len",
            dround(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    F.length(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", ""))
                    / F.col("n_tokens")
                ),
                4,
            ),
        )
        .withColumn(
            "stopword_ratio",
            dround(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    en_hits / F.col("n_tokens")
                ),
                4,
            ),
        )
        .withColumn(
            "quality_score",
            dround(
                (
                    F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.3
                    + F.col("alpha_ratio") * 0.3
                    + (1 - F.col("digit_ratio")) * 0.2
                    + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.2
                ),
                4,
            ),
        )
    )


def predict_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-voting language ID: argmax of marker hits, 'und'
    (undetermined) when no marker matches. Ties break in the fixed
    iteration order of LANG_MARKERS (deterministic)."""
    out = df
    for lang, markers in LANG_MARKERS.items():
        out = out.withColumn(f"_hits_{lang}", stopword_hits(text_col, markers))
    best = F.greatest(*[F.col(f"_hits_{l}") for l in LANG_MARKERS])
    pred = F.lit("und")
    # first lang reaching the max wins — build right-to-left so earlier
    # langs take precedence
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(
            (F.col(f"_hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    out = out.withColumn("pred_lang", pred)
    return out.drop(*[f"_hits_{l}" for l in LANG_MARKERS])


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    Stable across engines — the exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def let(value: Column, body) -> Column:
    """Let-binding for Catalyst expressions: evaluate ``value`` once and
    pass it to ``body`` as a bound lambda variable.

    A free-variable reference inside a higher-order-function lambda is
    re-evaluated PER ELEMENT (e.g. re-splitting a document for every
    shingle window — measured 10× slowdown); routing it through a
    1-element transform makes it a cheap bound-variable read.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def ngrams(col: Column | str, n: int = 2) -> Column:
    """Array of word n-grams (space-joined token windows); empty array
    when the document has fewer than n tokens."""

    def build(toks: Column) -> Column:
        sz = F.size(toks)
        idx = F.sequence(F.lit(0), sz - n)
        return F.when(sz < n, F.array().cast("array<string>")).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        )

    return let(tokens(col), build)


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals, all in-codegen array math:

    - dup_2gram_ratio / dup_3gram_ratio: fraction of word n-grams that
      are repeats of an earlier one (1 − distinct/total);
    - top_2gram_share: share of all 2-grams taken by the most frequent
      one (boilerplate detector).

    The top-share pass is O(u·n) per row over the distinct n-grams —
    bounded by document length, no shuffle, no Python.
    """

    def dup_ratio(n: int) -> Column:
        def body(g: Column) -> Column:
            total = F.size(g)
            return F.when(total <= 0, F.lit(0.0)).otherwise(
                dround(1 - F.size(F.array_distinct(g)) / total, 4)
            )

        return let(ngrams(text_col, n), body)

    def top_share(n: int) -> Column:
        def body(g: Column) -> Column:
            total = F.size(g)
            top = F.array_max(
                F.transform(
                    F.array_distinct(g),
                    lambda d: F.size(F.filter(g, lambda x: x == d)),
                )
            )
            return F.when(total <= 0, F.lit(0.0)).otherwise(dround(top / total, 4))

        return let(ngrams(text_col, n), body)

    return (
        df.withColumn("dup_2gram_ratio", dup_ratio(2))
        .withColumn("dup_3gram_ratio", dup_ratio(3))
        .withColumn("top_2gram_share", top_share(2))
    )


#: C4/Gopher-style document filter thresholds (public heuristics).
FILTER_RULES = {
    "word_count": (10, 10000),  # min/max whitespace tokens
    "mean_word_len": (2.0, 12.0),  # chars per token
    "max_symbol_ratio": 0.3,  # non-word/space chars
    "max_dup_2gram": 0.5,  # duplicate 2-gram fraction
    "min_stopword_ratio": 0.01,  # English-marker floor
}


def filter_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document boolean columns for each pretraining filter rule plus
    ``passes_all`` — the Gopher/C4 rule-gate, columnar. Downstream keeps
    `df.filter("passes_all")`; the flags survive for audit."""
    lo_wc, hi_wc = FILTER_RULES["word_count"]
    lo_ml, hi_ml = FILTER_RULES["mean_word_len"]
    out = repetition_features(quality_features(df, text_col), text_col)
    out = (
        out.withColumn(
            "rule_word_count",
            F.col("n_tokens").between(lo_wc, hi_wc),
        )
        .withColumn(
            "rule_mean_word_len",
            (F.col("avg_token_len") >= lo_ml) & (F.col("avg_token_len") <= hi_ml),
        )
        .withColumn(
            "rule_symbol_ratio",
            F.col("punct_ratio") <= FILTER_RULES["max_symbol_ratio"],
        )
        .withColumn(
            "rule_dup_2gram",
            F.col("dup_2gram_ratio") <= FILTER_RULES["max_dup_2gram"],
        )
        .withColumn(
            "rule_stopwords",
            F.col("stopword_ratio") >= FILTER_RULES["min_stopword_ratio"],
        )
    )
    flags = [c for c in out.columns if c.startswith("rule_")]
    passes = F.lit(True)
    for c in flags:
        passes = passes & F.col(c)
    return out.withColumn("passes_all", passes)


def doc_frequency(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, df_count, idf) over the corpus — the vocabulary-building
    pass. One explode + one groupBy shuffle on token; idf = ln(N/df)
    with N carried as a broadcast 1-row aggregate (no driver action)."""
    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    toks = df.select(F.explode(F.array_distinct(tokens(text_col))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf", dround(F.log(F.col("_n_docs") / F.col("df_count")), 6))
        .drop("_n_docs")
    )


def shingle_fingerprints(col: Column | str, k: int = 5) -> Column:
    """Rolling k-word shingle fingerprints: array of xxhash64 values, one
    per k-token window — the input units for MinHash/SimHash."""

    def build(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n < k, F.array(F.xxhash64(F.concat_ws(" ", toks)))).otherwise(
            F.transform(
                idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k)))
            )
        )

    return let(tokens(col), build)


#: PII redaction rules applied IN ORDER (email before phone so the
#: digits in an address aren't half-eaten by the phone rule; SSN and
#: IPv4 before phone for the same reason). Patterns stay in the
#: Java-regex ∩ RE2 dialect subset — no lookaround, no backrefs — so
#: the identical pattern string runs in Spark and DuckDB (with the 'g'
#: flag there; Spark regexp_replace is global by default).
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d()\- ]{6,}\d", "<PHONE>"),
]


def redact_pii(col: Column | str) -> Column:
    """Text with emails / SSNs / IPv4s / phone-shaped spans replaced by
    typed placeholders. A chain of regexp_replace — pure codegen, no
    Python, embarrassingly parallel at any scale."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_RULES:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col: Column | str) -> list[Column]:
    """One count column per PII rule (aliased pii_<name>), counted on the
    raw text BEFORE redaction so overlapping rules don't shadow each
    other's counts."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.regexp_count(c, F.lit(pat)).cast("long").alias(f"pii_{name}")
        for name, pat, _ in PII_RULES
    ]


#: Fixed BPE merge table (rank-ordered) for the encoder: learned
#: offline from this corpus's pair statistics (docs_bpe_pair_counts is
#: the training primitive); pinned as literals so encoding is a pure
#: function replayable in the oracle.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "a"), ("b", "l"), ("h", "a"), ("s", "h"),
    ("j", "o"), ("i", "n"), ("jo", "in"), ("e", "r"),
    ("o", "w"), ("a", "r"), ("ta", "bl"), ("tabl", "e"),
]

_BPE_SEP = "·"  # middle dot: never appears in [a-z] words


def bpe_encode(col: Column | str, merges: list[tuple[str, str]] | None = None) -> Column:
    """BPE inference: split a word to characters, then apply the merge
    table in rank order as global pair-joins (the standard fast BPE
    encoder — each rank merges every current occurrence of its pair).
    Chained codegen `replace` calls, no UDF. Returns array<string> of
    subword tokens."""
    c = F.col(col) if isinstance(col, str) else col
    # char-separate: every char gets a trailing sep, then strip the last
    sep = _BPE_SEP
    x = F.regexp_replace(F.lower(c), "(.)", f"$1{sep}")
    x = F.call_function("rtrim", F.lit(sep), x)
    for a, b in merges if merges is not None else BPE_MERGES:
        x = F.replace(x, F.lit(f"{a}{sep}{b}"), F.lit(a + b))
    return F.split(x, sep)


def bpe_train(docs: DataFrame, text_col: str = "text", n_merges: int = 8) -> DataFrame:
    """In-plan BPE tokenizer TRAINING: learn ``n_merges`` merges from
    the corpus — the text analog of the in-plan trained IVF (ml_lsh
    Lloyd): the model artifact is learned inside the query, not pinned.

    Scale shape (the one real BPE trainers use — Sennrich et al. 2016
    train on word histograms, not the raw corpus): the corpus is
    scanned ONCE into a (word, n) frequency table, bounded by the
    distinct-word count (Heaps' law: ~10⁶-10⁷ even at 100 TB), and
    every merge round runs over that histogram only — one pair-count
    shuffle of ≤|vocab| rows per round, plus a single-row argmax
    collect (the Lloyd-centroid pattern: O(1) driver rows per round).

    Merge semantics are EXACT reference BPE via a boundary-anchored
    string form: each token is encoded ``|tok·``, so the round's
    winning pair is the plain substring ``|a·|b·`` and one global
    left-to-right non-overlapping ``replace`` to ``|ab·`` is exactly
    the simultaneous leftmost merge — prefix/suffix false matches are
    impossible (every token carries its own ``|``/``·`` delimiters)
    and same-token runs merge with correct parity
    (property-tested against a pure-Python reference trainer). Plain
    ``replace`` on both engines keeps the oracle closed-form: DuckDB
    replays each round's argmax with scalar subqueries — no lookarounds,
    which its RE2 engine lacks.

    Ties break by (count DESC, anchored-pair ASC) — byte-order
    comparison on both engines. Returns (merge_rank, lhs, rhs, n),
    ``n_merges`` rows; raises if the corpus runs out of pairs (pick a
    smaller ``n_merges`` — the fixed-depth oracle unrolls exactly)."""
    words = word_histogram(docs, text_col)
    return bpe_train_from_hist(words, n_merges=n_merges)


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) frequency table — the Heaps-bounded training state
    bpe_train runs on."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bpe_train_from_hist(words: DataFrame, n_merges: int = 8) -> DataFrame:
    """bpe_train's training loop over an existing (word, n) histogram —
    histograms are additive, so per-part histograms can be summed per
    word and handed here without touching any document."""
    from degdb_spark.persistence import lineage_cut

    spark = words.sparkSession
    enc = words.select(
        F.regexp_replace("w", "(.)", "|$1·").alias("s"), "n"
    ).transform(lineage_cut, eager=True)  # the ONE corpus/index scan
    # let-bind the split so it evaluates once per row, not three times
    # (the `let` device above — free variables in HOF lambdas re-eval)
    pair_expr = F.expr(
        "element_at(transform(array(split(s, '·')), l ->"
        " zip_with(slice(l, 1, size(l) - 2), slice(l, 2, size(l) - 2),"
        "          (a, b) -> concat(a, '·', b, '·'))), 1)"
    )
    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            enc.select(F.explode(pair_expr).alias("p"), "n")
            .groupBy("p")
            .agg(F.sum("n").alias("n"))
            .orderBy(F.col("n").desc(), "p")
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError(
                f"bpe_train: corpus exhausted at merge {rank} of {n_merges}"
            )
        p, cnt = top[0]["p"], int(top[0]["n"])
        lhs, rhs = (t.lstrip("|") for t in p.split("·")[:2])
        out.append((rank, lhs, rhs, cnt))
        enc = enc.withColumn(
            "s", F.replace(F.col("s"), F.lit(p), F.lit(p.replace("·|", "")))
        ).transform(lineage_cut, eager=False)
    return spark.createDataFrame(out, "merge_rank int, lhs string, rhs string, n long")


#: DSIR hashed-bucket count, exactly the paper's device (Xie et al.
#: 2023, arXiv:2302.03169 §3: "hashed n-gram features ... 10,000
#: buckets"): tokens hash into a FIXED bucket space, so the count /
#: LLR state is provably bounded-cardinality — like the HLL/CMS
#: registers — no matter how big the vocabulary grows. At 100 TB an
#: open vocabulary is 10⁸-10⁹ distinct tokens (Heaps' law); a
#: per-token state table would be a multi-GB broadcast, while the
#: bucketed table is ≤ 10⁴ rows forever.
DSIR_BUCKETS = 10_000


def dsir_occurrences(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, source, b) hashed-bucket token occurrences of non-blank
    docs — the shared input of the DSIR count and scoring passes. The
    bucket hash is the engine-portable md5 bucket (sampling.md5_bucket),
    so a DuckDB oracle replays the exact assignment."""
    from degdb_spark.operators.sampling import md5_bucket

    # explode first (generators can't nest inside expressions), then
    # hash — both land in the same whole-stage-codegen span
    return (
        docs.filter(F.trim(text_col) != "")
        .select("doc_id", "source", F.explode(tokens(text_col)).alias("_w"))
        .select("doc_id", "source", md5_bucket("_w", DSIR_BUCKETS).alias("b"))
    )


def dsir_word_counts(occ: DataFrame, target: str) -> DataFrame:
    """(b, cb, ct) — the persistable DSIR state (Xie et al. 2023,
    arXiv:2302.03169): base and target occurrence counts per hashed
    bucket, both out of ONE aggregation pass. Bucketing bounds the
    state at DSIR_BUCKETS rows by construction (property-tested in
    tests/test_plans.py::test_dsir_state_is_bucket_keyed_and_bounded).
    Re-pointing the target domain is a rebuild, like retraining a
    quantizer."""
    return occ.groupBy("b").agg(
        F.count(F.lit(1)).alias("cb"),
        F.count(F.when(F.col("source") == target, 1)).alias("ct"),
    )


def dsir_scores(occ: DataFrame, counts: DataFrame) -> DataFrame:
    """Per-doc DSIR score from a bucket-count state table: smoothed
    bucket log-likelihood ratio (rounded to 6 dp before aggregation),
    then the order-independent decimal mean over each doc's
    occurrences. Counts may come straight from dsir_word_counts or
    from the persisted batch-keyed table summed across partitions —
    identical scores either way (parity-tested). The LLR table is
    bounded at DSIR_BUCKETS rows, so broadcasting it onto the
    occurrence join is legitimate at any corpus scale; totals ride as
    a broadcast 1-row frame."""
    from degdb_spark.persistence import pin
    from degdb_spark.queries.rounding import davg, dround

    # bounded at DSIR_BUCKETS rows; pinned because BOTH the totals
    # rollup and the LLR projection read it — left lazy, Catalyst plans
    # the count aggregation (and its corpus scan) twice
    counts = pin(counts)
    tot = counts.agg(
        F.sum("cb").alias("tb"),
        F.sum("ct").alias("tt"),
        F.count(F.lit(1)).alias("v"),
    )
    llr = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        dround(
            F.log(
                (F.col("ct") + 1).cast("double")
                / (F.col("tt") + F.col("v")).cast("double")
            )
            - F.log(
                (F.col("cb") + 1).cast("double")
                / (F.col("tb") + F.col("v")).cast("double")
            ),
            6,
        ).alias("l"),
    )
    return (
        occ.join(F.broadcast(llr), "b")
        .groupBy("doc_id", "source")
        .agg(davg(F.col("l"), 6, 6).alias("dsir_score"))
    )
