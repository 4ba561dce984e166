"""Unit tests for text-analysis and dedup operators with hand-computed
expectations (the reference's exact-expected-output test style)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from degdb_spark.operators import dedup as D
from degdb_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "The  Quick   Brown Fox jumps over the lazy dog"),  # ws/case dup of 0
        (3, "the quick brown fox jumps over the lazy cat"),  # near-dup (1 token)
        (4, "completely different content about spark engines"),
        (5, ""),  # empty edge case
        (6, "der hund ist nicht ein katze und das ist gut"),  # German markers
        (7, "el perro es una mascota y no es el gato"),  # Spanish markers
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count(spark, docs):
    out = {r.doc_id: r.n for r in docs.select("doc_id", X.token_count("text").alias("n")).collect()}
    assert out[0] == 9
    assert out[2] == 9  # multiple spaces collapse
    assert out[5] == 0  # empty text


def test_bpe_token_count(spark):
    df = spark.createDataFrame([(0, "hello, world! x2")], ["doc_id", "text"])
    # tokens: hello , world ! x2  → 5
    assert df.select(X.bpe_token_count("text").alias("n")).collect()[0].n == 5


def test_exact_dedup(docs):
    deduped = D.exact_dedup(docs)
    kept = sorted(r.doc_id for r in deduped.collect())
    # 0,1,2 collapse to 0 (whitespace+case normalization); rest survive
    assert kept == [0, 3, 4, 5, 6, 7]


def test_fingerprint_normalization(docs):
    fps = {
        r.doc_id: r.fp
        for r in docs.select("doc_id", X.fingerprint("text").alias("fp")).collect()
    }
    assert fps[0] == fps[1] == fps[2]
    assert fps[0] != fps[3]


def test_ngram_jaccard(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # docs 0/3: 8 distinct tokens each, 7 shared, union 9 → 7/9
    assert pairs[(0, 3)] == pytest.approx(7 / 9, abs=1e-4)
    # exact dups → 1.0
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert (0, 4) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    cand = {(r.id_a, r.id_b) for r in D.minhash_lsh_candidates(docs, shingle_k=3).collect()}
    assert (0, 1) in cand  # identical docs always collide
    assert (0, 2) in cand  # normalization makes shingles identical
    assert (0, 3) in cand  # high-overlap near dup collides w.h.p.
    assert (0, 4) not in cand  # unrelated docs don't


def test_simhash_hamming(docs):
    near = {(r.id_a, r.id_b): r.hamming for r in D.simhash_near_dups(docs, max_hamming=10).collect()}
    assert near[(0, 1)] == 0  # identical → distance 0
    assert near[(0, 2)] == 0  # normalized-identical tokens
    assert (0, 4) not in near
    # Pigeonhole guarantee: every pair within Hamming ≤ 3 MUST be found
    # by the 4×15-bit block banding (pairs beyond 3 — e.g. (0,3) sits at
    # distance 11 under the md5 hash — are best-effort only).
    fps = {r[0]: r.simhash for r in D.simhash(docs).collect()}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(fps[a] ^ fps[b]).count("1") <= 3:
                assert (a, b) in near, (a, b)


def test_lang_markers(docs):
    preds = {r.doc_id: r.pred_lang for r in X.predict_lang(docs).collect()}
    assert preds[0] == "en"
    assert preds[6] == "de"
    assert preds[7] == "es"
    assert preds[5] == "und"  # empty text → undetermined


def test_quality_score_range(docs):
    out = X.quality_features(docs).select("doc_id", "quality_score").collect()
    scores = {r.doc_id: r.quality_score for r in out}
    assert all(0.0 <= s <= 1.0 for s in scores.values())
    assert scores[0] > scores[5]  # real text beats empty


def test_shingles_short_doc(spark):
    # doc shorter than k → single whole-text shingle
    df = spark.createDataFrame([(0, "two words")], ["doc_id", "text"])
    arr = df.select(X.shingle_fingerprints("text", k=5).alias("sh")).collect()[0].sh
    assert len(arr) == 1


def test_dedup_clusters_transitive(spark, docs):
    # A~B, B~C chains into one cluster even though A~C was never a pair
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], ["id_a", "id_b"])
    out = {r.doc_id: r for r in D.dedup_clusters(docs, pairs).collect()}
    assert {d: out[d].cluster_id for d in range(8)} == {
        0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7,
    }
    assert out[0].cluster_size == 3 and out[6].cluster_size == 2
    assert {d for d in out if out[d].kept} == {0, 3, 4, 5, 7}


def test_near_dedup_keeps_min_id(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], ["id_a", "id_b"])
    kept = sorted(r.doc_id for r in D.near_dedup(docs, pairs).collect())
    assert kept == [0, 3, 4, 5, 7]


def test_near_dedup_no_pairs_keeps_all(spark, docs):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert D.near_dedup(docs, pairs).count() == docs.count()


def test_redact_pii(spark):
    rows = [
        (0, "mail me at jane.doe+spam@corp.example.org today"),
        (1, "server 192.168.1.254 and ssn 123-45-6789"),
        (2, "call +1 (555) 123-4567 now"),
        (3, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r.red
        for r in df.select("doc_id", X.redact_pii("text").alias("red")).collect()
    }
    assert out[0] == "mail me at <EMAIL> today"
    assert out[1] == "server <IP> and ssn <SSN>"
    assert out[2] == "call <PHONE> now"
    assert out[3] == "no pii here at all"
    counts = df.select("doc_id", *X.pii_counts("text")).collect()
    by_id = {r.doc_id: r for r in counts}
    assert by_id[0].pii_email == 1
    assert by_id[1].pii_ipv4 == 1 and by_id[1].pii_ssn == 1
    assert by_id[2].pii_phone == 1
    assert all(
        getattr(by_id[3], f) == 0
        for f in ("pii_email", "pii_ssn", "pii_ipv4", "pii_phone")
    )


def test_contamination_report(spark):
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),       # contains bench 3-gram
            (1, "one two three four five"),      # disjoint
            (2, "beta gamma delta epsilon"),     # shares 'beta gamma delta'
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta zeta")], ["doc_id", "text"]
    )
    rep = {r.doc_id: (r.n_hit, r.contaminated) for r in D.contamination_report(corpus, bench).collect()}
    assert rep[0] == (2, True)   # 'alpha beta gamma', 'beta gamma delta'
    assert rep[1] == (0, False)
    assert rep[2] == (1, True)   # 'beta gamma delta'
    kept = sorted(r.doc_id for r in D.decontaminate(corpus, bench).collect())
    assert kept == [1]


def test_leakage_safe_split_no_straddle(spark, docs):
    """Near-dup cluster members must all land in the same split — the
    property that distinguishes the cluster-keyed split from a
    doc-keyed one."""
    from degdb_spark.operators.sampling import md5_bucket

    pairs = D.ngram_jaccard_pairs(docs.filter(F.length("text") > 0), threshold=0.4)
    clusters = D.dedup_clusters(docs, pairs)
    split = F.when(md5_bucket("cluster_id", 100) < 50, "test").otherwise("train")
    straddlers = (
        clusters.withColumn("split", split)
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddlers == 0
    # and the multi-doc cluster (docs 0/1/2/3) really is one key
    multi = clusters.filter(F.col("cluster_size") > 1).select("cluster_id").distinct()
    assert multi.count() >= 1


def test_bpe_encode_merge_order(spark):
    """Rank-ordered merges: 'table' collapses fully via ta+bl->tabl->table;
    unknown chars stay single; empty-adjacent splits handled upstream."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.text import bpe_encode

    df = spark.createDataFrame(
        [("table",), ("hash",), ("spark",), ("zzz",)], "w string"
    )
    out = {r.w: r.t for r in df.select("w", bpe_encode("w").alias("t")).collect()}
    assert out["table"] == ["table"]
    assert out["hash"] == ["ha", "sh"]
    assert out["spark"] == ["s", "p", "ar", "k"]
    assert out["zzz"] == ["z", "z", "z"]


def test_setsim_join_lossless_vs_bruteforce(spark):
    """Prefix filtering must find EXACTLY the brute-force J>=t pairs —
    the lossless-recall guarantee banding doesn't give."""
    import itertools

    from pyspark.sql import Row

    from degdb_spark.operators.setsim import setsim_join

    corpus = {
        1: "a b c d e",
        2: "a b c d e f",   # J(1,2)=5/6≈0.833
        3: "a b c d e",     # J(1,3)=1.0
        4: "q r s t",
        5: "q r s t u v w", # J(4,5)=4/7≈0.571
        6: "a q z",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in corpus.items()]
    )
    t = 0.8
    got = {
        (r.id_a, r.id_b): r.jaccard for r in setsim_join(docs, threshold=t).collect()
    }
    sets = {i: set(v.split()) for i, v in corpus.items()}
    want = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
        if round(jac, 4) >= t:
            want[(i, j)] = round(jac, 4)
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9


def test_incremental_candidates_equal_full_restricted(spark):
    """Incremental candidates == full-corpus candidates restricted to
    pairs touching a new doc (old-vs-old never re-paired)."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.dedup import (
        band_table,
        incremental_lsh_candidates,
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    split = 80
    old = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)
    inc = {
        (r.id_a, r.id_b)
        for r in incremental_lsh_candidates(new, band_table(old)).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs).collect()
        if r.id_a >= split or r.id_b >= split
    }
    assert inc == full
    assert all(a >= split or b >= split for a, b in inc)


def test_span_dedup_first_occurrence_and_reassembly(spark):
    """Falsifiable span-dedup check on a hand-built corpus: a span
    repeated across docs survives only at its first (doc, idx)
    occurrence; a span repeated WITHIN one doc keeps only the earlier
    position; reassembly preserves original span order; a fully
    duplicated doc comes back empty."""
    A = " ".join(f"a{i}" for i in range(10))
    B = " ".join(f"b{i}" for i in range(10))
    C = " ".join(f"c{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, f"{A} {B}"),        # both spans first occurrences
            (1, f"{A} {C}"),        # A dropped (seen in doc 0), C kept
            (2, f"{C} {C}"),        # cross-doc dup + within-doc dup: all dropped
            (3, f"{B} {A} extra"),  # both dropped; short tail span survives
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.span_dedup(docs, span_tokens=10).collect()
    }
    assert (out[0]["n_spans"], out[0]["n_kept"]) == (2, 2)
    assert out[0]["text_clean"] == f"{A} {B}"
    assert (out[1]["n_spans"], out[1]["n_kept"]) == (2, 1)
    assert out[1]["text_clean"] == C
    assert (out[2]["n_spans"], out[2]["n_kept"]) == (2, 0)
    assert out[2]["text_clean"] == ""
    assert (out[3]["n_spans"], out[3]["n_kept"]) == (3, 1)
    assert out[3]["text_clean"] == "extra"


def test_verifier_memo_keyed_by_corpus_identity(spark):
    """The verified-pairs memo must never serve pairs computed over a
    DIFFERENT corpus frame: same candidates object + a different df
    must recompute (id() recycling / mismatched-caller guard), while
    the same (df, candidates, threshold) returns the identical frame
    object."""
    from pyspark.sql import Row

    import degdb_spark.operators.dedup as D

    base = " ".join(f"t{i}" for i in range(12))
    rows = [
        Row(doc_id=0, text=f"{base} ee"),
        Row(doc_id=1, text=f"{base} ff"),
        Row(doc_id=2, text="zz yy xx ww vv"),
    ]
    docs = spark.createDataFrame(rows)
    cands = D.minhash_lsh_candidates(docs)
    out1 = D.ngram_jaccard_pairs(docs, candidates=cands, threshold=0.4)
    assert D.ngram_jaccard_pairs(docs, candidates=cands, threshold=0.4) is out1

    # different corpus: doc 1 rewritten to be identical to doc 0
    rows2 = [
        Row(doc_id=0, text=f"{base} ee"),
        Row(doc_id=1, text=f"{base} ee"),
        Row(doc_id=2, text="zz yy xx ww vv"),
    ]
    docs2 = spark.createDataFrame(rows2)
    out2 = D.ngram_jaccard_pairs(docs2, candidates=cands, threshold=0.4)
    assert out2 is not out1
    j1 = {(r.id_a, r.id_b): r.jaccard for r in out1.collect()}
    j2 = {(r.id_a, r.id_b): r.jaccard for r in out2.collect()}
    assert j1[(0, 1)] < 1.0 and j2[(0, 1)] == 1.0

    # distinct thresholds share ONE pinned candidate materialization
    D.ngram_jaccard_pairs(docs, candidates=cands, threshold=0.9)
    assert getattr(cands, "_degdb_pinned_self", None) is not None


# ---- property tier: random corpora vs a pure-Python span-dedup oracle -------

import math as _math
import re as _re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _py_span_dedup(texts: list[str], k: int) -> dict[int, tuple[int, int, str]]:
    """Reference first-occurrence span dedup, straight from the spec:
    global (doc, idx) order, exact string spans — no hashing, no Spark.
    Tokenization replicates operators.text.tokens (regex split of
    lowercased trimmed text, so '' yields [''])."""
    sliced = {}
    for i, text in enumerate(texts):
        toks = _re.split(r"\s+", text.strip().lower())
        n = max(1, _math.ceil(len(toks) / k)) if toks else 0
        sliced[i] = [" ".join(toks[j * k : (j + 1) * k]) for j in range(n)]
    seen: set[str] = set()
    out = {}
    for i in sorted(sliced):
        kept = []
        for s in sliced[i]:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out[i] = (len(sliced[i]), len(kept), " ".join(kept))
    return out


@st.composite
def random_corpora(draw):
    """Small-alphabet corpora so spans collide constantly — the regime
    where first-occurrence ordering, intra-doc repeats, and whole-doc
    wipeouts all actually happen."""
    n_docs = draw(st.integers(min_value=1, max_value=8))
    texts = []
    for _ in range(n_docs):
        toks = draw(st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=10))
        texts.append(" ".join(toks))
    return texts


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(random_corpora())
def test_span_dedup_matches_python_oracle(spark, texts):
    import degdb_spark.operators.dedup as D

    k = 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_spans, r.n_kept, r.text_clean)
        for r in D.span_dedup(docs, span_tokens=k).collect()
    }
    assert got == _py_span_dedup(texts, k)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(random_corpora())
def test_verified_pairs_match_python_jaccard_on_candidates(spark, texts):
    """The candidate-pruned verifier (round 7: only candidate-endpoint
    docs tokenized) must emit exactly {(a,b) ∈ candidates :
    J(tokset_a, tokset_b) ≥ t} with Jaccard to 4 dp — a pure-Python
    oracle over the collected candidate pairs."""
    import degdb_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cands = D.minhash_lsh_candidates(docs)
    cand_pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, candidates=cands, threshold=0.4).collect()
    }

    toksets = {
        i: set(_re.split(r"\s+", t.strip().lower())) for i, t in enumerate(texts)
    }
    want = {}
    for a, b in cand_pairs:
        u = toksets[a] | toksets[b]
        j = (len(toksets[a] & toksets[b]) / len(u)) if u else 0.0
        j = _math.floor(j * 10000 + 0.5) / 10000
        if j >= 0.4:
            want[(a, b)] = j
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(random_corpora())
def test_simhash_matches_python_oracle(spark, texts):
    """The relational SimHash (explode + grouped bit votes + scalar
    fold, rewritten in r6) must equal the definitional Python SimHash
    over the same md5-derived 60-bit token hashes."""
    import hashlib as _hl

    import degdb_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}

    want = {}
    for i, t in enumerate(texts):
        toks = _re.split(r"\s+", t.strip().lower())
        votes = [0] * 60
        for w in toks:
            h = int(_hl.md5(w.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        want[i] = sum(1 << b for b in range(60) if votes[b] > 0)
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]), max_size=12), min_size=1, max_size=6))
def test_minhash_band_hashes_match_python_oracle(spark, token_lists):
    """The memoized band-hash expression must equal the definitional
    Python MinHash banding: md5-split double hashing, 32 K-M slots,
    elementwise min over 5-token shingles, md5 band keys — including
    the <5-token degenerate case (empty shingles → init signature)."""
    import hashlib as _hl

    import degdb_spark.operators.dedup as D
    from pyspark.sql import functions as F

    texts = [" ".join(toks) for toks in token_lists]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: list(r.bands)
        for r in docs.select(
            "doc_id", D.minhash_band_hashes("text").alias("bands")
        ).collect()
    }

    MAXL = (1 << 63) - 1
    want = {}
    for i, t in enumerate(texts):
        toks = _re.split(r"\s+", t.strip().lower())
        shingles = (
            [" ".join(toks[j : j + 5]) for j in range(len(toks) - 4)]
            if len(toks) >= 5
            else []
        )
        sig = [MAXL] * 32
        for s in shingles:
            m = _hl.md5(s.encode()).hexdigest()
            h1, h2 = int(m[:15], 16), int(m[16:30], 16)
            sig = [min(a, h1 + k * h2) for k, a in enumerate(sig)]
        want[i] = [
            _hl.md5(",".join(str(x) for x in sig[b * 4 : (b + 1) * 4]).encode()).hexdigest()
            for b in range(8)
        ]
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.text(alphabet="tablshjoinerw", min_size=1, max_size=10), min_size=1, max_size=6))
def test_bpe_encode_matches_python_replica(spark, words):
    """The codegen BPE encoder (chained global replaces over a
    separator-joined char string) must equal the straightforward Python
    replica of the same algorithm on random words over the merge
    alphabet — including partial-merge and no-merge words."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.text import BPE_MERGES, bpe_encode

    def py_bpe(word):
        s = "·".join(word.lower())
        for a, b in BPE_MERGES:
            s = s.replace(f"{a}·{b}", a + b)
        return s.split("·")

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.w: list(r.toks) for r in df.select("w", bpe_encode("w").alias("toks")).collect()}
    assert got == {w: py_bpe(w) for w in words}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="abct", min_size=1, max_size=7),
        min_size=3,
        max_size=12,
    )
)
def test_bpe_train_matches_python_reference(spark, words):
    """In-plan BPE training (operators/text.bpe_train) must equal a
    straightforward pure-Python reference trainer — overlapping pair
    COUNTS, but non-overlapping leftmost MERGING per round, ties by
    (count desc, pair asc in the anchored-string order) — on random
    corpora over a tiny alphabet, where same-token runs and
    prefix/suffix-ambiguous tokens are common."""
    from degdb_spark.operators.text import bpe_train

    def ref_train(corpus, n_merges):
        from collections import Counter

        hist = Counter()
        for w in corpus:
            w = "".join(ch for ch in w.lower() if ch.isalpha())
            if w:
                hist[tuple(w)] += 1
        merges = []
        for rank in range(1, n_merges + 1):
            pairs = Counter()
            for toks, n in hist.items():
                for i in range(len(toks) - 1):
                    pairs[(toks[i], toks[i + 1])] += n
            if not pairs:
                return merges, True  # exhausted
            # tie-break = anchored-string byte order: "|a·|b·"
            best = min(
                pairs.items(),
                key=lambda kv: (-kv[1], f"|{kv[0][0]}·|{kv[0][1]}·"),
            )
            (a, b), n = best
            merges.append((rank, a, b, n))
            new_hist = Counter()
            for toks, cnt in hist.items():
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                new_hist[tuple(out)] += cnt
            hist = new_hist
        return merges, False

    n_merges = 4
    want, exhausted = ref_train(words, n_merges)
    df = spark.createDataFrame([(w,) for w in words], "doc_id string").toDF("text")
    if exhausted:
        with pytest.raises(Exception, match="exhausted"):
            bpe_train(df, n_merges=n_merges).collect()
        return
    got = [
        (r.merge_rank, r.lhs, r.rhs, r.n)
        for r in bpe_train(df, n_merges=n_merges).collect()
    ]
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=400),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_decision_tree_matches_python_reference(spark, rows):
    """train_depth2_tree must equal a straightforward Python replica —
    same floor-scaled integer split objective, same (score desc,
    feature asc, threshold asc) tie-break, same empty-node fallback —
    on random data including empty inputs, pure nodes, and ties."""
    from degdb_spark.operators.tree import train_depth2_tree

    grids = {"f1": [0, 3, 6, 9, 12], "f2": [50, 100, 200, 300]}
    cand = [(f, t) for f in sorted(grids) for t in grids[f]]

    def sc(p, n):
        return 0 if p + n == 0 else (p * p + n * n) * 1_000_000 // (p + n)

    def best(data):
        scored = []
        for f, t in cand:
            fi = 0 if f == "f1" else 1
            lp = sum(1 for r in data if r[fi] <= t and r[2] == 1)
            ln = sum(1 for r in data if r[fi] <= t and r[2] == 0)
            rp = sum(1 for r in data if r[fi] > t and r[2] == 1)
            rn = sum(1 for r in data if r[fi] > t and r[2] == 0)
            scored.append((-(sc(lp, ln) + sc(rp, rn)), f, t))
        return min(scored)[1:] if scored and data else cand[0]

    def ref(data):
        f0, t0 = best(data)
        idx0 = 0 if f0 == "f1" else 1
        left = [r for r in data if r[idx0] <= t0]
        right = [r for r in data if r[idx0] > t0]
        f1_, t1_ = best(left)
        f2_, t2_ = best(right)
        out = [
            ("root", f0, t0, len(data), sum(r[2] for r in data), None),
            ("L", f1_, t1_, len(left), sum(r[2] for r in left), None),
            ("R", f2_, t2_, len(right), sum(r[2] for r in right), None),
        ]
        i1, i2 = (0 if f1_ == "f1" else 1), (0 if f2_ == "f1" else 1)
        for name, part in (
            ("LL", [r for r in left if r[i1] <= t1_]),
            ("LR", [r for r in left if r[i1] > t1_]),
            ("RL", [r for r in right if r[i2] <= t2_]),
            ("RR", [r for r in right if r[i2] > t2_]),
        ):
            n, p = len(part), sum(r[2] for r in part)
            out.append((name, None, None, n, p, 1 if 2 * p > n else 0))
        return sorted(out)

    df = spark.createDataFrame(rows or [], "f1 long, f2 long, label int")
    got = sorted(
        (r.node, r.feature, r.threshold, r.n, r.n_pos, r.pred)
        for r in train_depth2_tree(df, grids).collect()
    )
    assert got == ref(rows)


def test_naive_bayes_matches_python_reference(spark):
    """train_predict_nb must equal a straightforward Python replica —
    same md5 split, same Laplace smoothing, same integer-micronat
    quantization, same (score desc, label asc) argmax — on a small
    corpus with a real separable signal plus shared noise tokens."""
    import hashlib
    import math

    from degdb_spark.operators.nb import LOG_SCALE, train_predict_nb

    rows = []
    for i in range(60):
        lab = "a" if i % 2 == 0 else "b"
        word = "alpha" if lab == "a" else "bravo"
        n_rep = 1 + i % 3
        text = " ".join([word] * n_rep + ["noise", "shared"])
        rows.append((i, text, lab))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100

    def qlog(x):
        return math.floor(math.log(x) * LOG_SCALE + 0.5)

    train = [(d, t, l) for d, t, l in rows if bucket(d) >= 20]
    test = [(d, t, l) for d, t, l in rows if bucket(d) < 20]
    counts, totals = {}, {}
    vocab = set()
    for _, t, l in train:
        for tok in t.split():
            counts[(l, tok)] = counts.get((l, tok), 0) + 1
            totals[l] = totals.get(l, 0) + 1
            vocab.add(tok)
    v = len(vocab)
    nd = {l: sum(1 for r in train if r[2] == l) for l in totals}
    expect = {}
    for d, t, actual in test:
        scores = []
        for l in sorted(totals):
            s = qlog(nd[l] / len(train))
            for tok in t.split():
                if tok in vocab:
                    s += qlog((counts.get((l, tok), 0) + 1) / (totals[l] + v))
            scores.append((-s, l))
        pred = min(scores)[1]
        expect[(actual, pred)] = expect.get((actual, pred), 0) + 1

    got = {
        (r.actual, r.predicted): r.n_docs
        for r in train_predict_nb(df, label_col="lang", test_pct=20).collect()
    }
    assert got == expect
    # the planted signal is separable: every prediction is correct
    assert all(a == p for a, p in got)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["alpha", "bravo", "carol", "delta", "echo"]),
                max_size=6,
            ),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_naive_bayes_matches_python_reference_random(spark, docs):
    """Hypothesis tier for NB: random small corpora — including empty
    documents, labels absent from the train split, docs whose tokens
    are all unseen, and exact score ties — must equal the Python
    replica (same md5 split, Laplace smoothing, micronat quantization,
    argmax tie-break)."""
    import hashlib
    import math

    from degdb_spark.operators.nb import LOG_SCALE, train_predict_nb

    rows = [(i, " ".join(toks), lab) for i, (toks, lab) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100

    def qlog(x):
        return math.floor(math.log(x) * LOG_SCALE + 0.5)

    train = [(d, t, l) for d, t, l in rows if bucket(d) >= 20]
    test = [(d, t, l) for d, t, l in rows if bucket(d) < 20]
    counts, totals, vocab = {}, {}, set()
    for _, t, l in train:
        for tok in t.split():
            counts[(l, tok)] = counts.get((l, tok), 0) + 1
            totals[l] = totals.get(l, 0) + 1
            vocab.add(tok)
    # labels with ONLY empty docs in train still carry a prior
    nd = {}
    for _, _, l in train:
        nd[l] = nd.get(l, 0) + 1
    v = len(vocab)
    expect = {}
    for d, t, actual in test:
        scores = []
        for l in sorted(nd):
            s = qlog(nd[l] / len(train))
            total_l = totals.get(l, 0)
            for tok in t.split():
                if tok in vocab:
                    s += qlog((counts.get((l, tok), 0) + 1) / (total_l + v))
            scores.append((-s, l))
        if not scores:
            continue
        pred = min(scores)[1]
        expect[(actual, pred)] = expect.get((actual, pred), 0) + 1

    got = {
        (r.actual, r.predicted): r.n_docs
        for r in train_predict_nb(df, label_col="lang", test_pct=20).collect()
    }
    assert got == expect


def _linear_replica(rows, n_features=64, n_iters=4):
    """Straight-Python replica of operators/linear.py: md5 split, md5
    feature hashing + bias, batch multi-class perceptron with summed
    (averaged) weights, (score desc, label asc) argmax. Returns the
    confusion dict, or raises ValueError on an empty train split."""
    import hashlib

    def bucket(s, m):
        return int(hashlib.md5(str(s).encode()).hexdigest()[:8], 16) % m

    train = [(d, t, l) for d, t, l in rows if bucket(d, 100) >= 20]
    test = [(d, t, l) for d, t, l in rows if bucket(d, 100) < 20]
    labels = sorted({l for _, _, l in train})
    if not labels:
        raise ValueError("no training documents")

    def feats(t):
        fx = {n_features: 1}  # bias
        for tok in t.strip().lower().split():
            f = bucket(tok, n_features)
            fx[f] = fx.get(f, 0) + 1
        return fx

    fc = {d: feats(t) for d, t, _ in rows}
    grid = [(l, f) for l in labels for f in range(n_features + 1)]
    w = {lf: 0 for lf in grid}
    ws = {lf: 0 for lf in grid}
    for _ in range(n_iters):
        deltas = {}
        for d, _, actual in train:
            pred = min((-sum(w[(l, f)] * x for f, x in fc[d].items()), l) for l in labels)[1]
            if pred != actual:
                for f, x in fc[d].items():
                    deltas[(actual, f)] = deltas.get((actual, f), 0) + x
                    deltas[(pred, f)] = deltas.get((pred, f), 0) - x
        for lf, dv in deltas.items():
            w[lf] += dv
        for lf in grid:
            ws[lf] += w[lf]
    expect = {}
    for d, _, actual in test:
        pred = min((-sum(ws[(l, f)] * x for f, x in fc[d].items()), l) for l in labels)[1]
        expect[(actual, pred)] = expect.get((actual, pred), 0) + 1
    return expect


def test_linear_classifier_matches_python_reference(spark):
    """train_predict_linear must equal the straight Python replica —
    same md5 split, same md5 feature hashing, same batch updates, same
    averaged-weight scoring and tie-breaks — on a small corpus with a
    real separable signal plus shared noise tokens."""
    from degdb_spark.operators.linear import train_predict_linear

    rows = []
    for i in range(60):
        lab = "a" if i % 2 == 0 else "b"
        word = "alpha" if lab == "a" else "bravo"
        text = " ".join([word] * (1 + i % 3) + ["noise", "shared"])
        rows.append((i, text, lab))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    got = {
        (r.actual, r.predicted): r.n_docs
        for r in train_predict_linear(df, label_col="lang", test_pct=20).collect()
    }
    assert got == _linear_replica(rows)
    # the planted signal is linearly separable: every prediction correct
    assert all(a == p for a, p in got)


def test_linear_classifier_empty_train_raises(spark):
    """A corpus whose every doc lands in the test split has nothing to
    train on — clear ValueError, mirroring the replica."""
    import hashlib

    import pytest as _pytest

    from degdb_spark.operators.linear import train_predict_linear

    # find doc_ids whose md5 bucket is < 20 (all-test corpus)
    ids = [i for i in range(200)
           if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100 < 20][:5]
    rows = [(i, "some text", "a") for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with _pytest.raises(ValueError, match="no training documents"):
        train_predict_linear(df, label_col="lang", test_pct=20)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["alpha", "bravo", "carol", "delta", "echo"]),
                max_size=6,
            ),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_linear_classifier_matches_python_reference_random(spark, docs):
    """Hypothesis tier for the perceptron: random small corpora —
    empty documents (bias-only feature vectors), labels absent from
    the train split, hash collisions, exact score ties, oscillating
    non-separable updates — must equal the Python replica exactly."""
    from degdb_spark.operators.linear import train_predict_linear

    rows = [(i, " ".join(toks), lab) for i, (toks, lab) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    try:
        expect = _linear_replica(rows)
    except ValueError:
        import pytest as _pytest

        with _pytest.raises(ValueError):
            train_predict_linear(df, label_col="lang", test_pct=20)
        return
    got = {
        (r.actual, r.predicted): r.n_docs
        for r in train_predict_linear(df, label_col="lang", test_pct=20).collect()
    }
    assert got == expect


def _py_substring_dedup(texts: list[str], L: int) -> dict[int, tuple[int, int, str]]:
    """Reference ExactSubstr dedup, straight from the spec: exact
    window STRINGS (no hashing), global (doc, pos)-first occurrence
    per window content, a token removed iff covered by any non-first
    window occurrence — independent O(n·L) code path."""
    toks = {
        i: _re.split(r"\s+", t.strip().lower()) for i, t in enumerate(texts)
    }
    first: dict[str, tuple[int, int]] = {}
    for i in sorted(toks):
        tk = toks[i]
        for p in range(len(tk) - L + 1):
            w = " ".join(tk[p : p + L])
            first.setdefault(w, (i, p))
    out = {}
    for i in sorted(toks):
        tk = toks[i]
        removed: set[int] = set()
        for p in range(len(tk) - L + 1):
            w = " ".join(tk[p : p + L])
            if first[w] != (i, p):
                removed.update(range(p, p + L))
        kept = [tk[p] for p in range(len(tk)) if p not in removed]
        out[i] = (len(tk), len(removed), " ".join(kept))
    return out


def test_substring_dedup_planted_cases(spark):
    """ExactSubstr ground truths: an arbitrary-offset 30-token copy is
    removed whole from the LATER doc only; a periodic run keeps its
    first period; short docs and unique docs are untouched; a full
    later duplicate drops to ''."""
    import degdb_spark.operators.dedup as D

    A = " ".join(f"u{i}" for i in range(60))
    B = " ".join(
        [f"b{i}" for i in range(10)]
        + [f"u{i}" for i in range(10, 40)]
        + [f"b{i}" for i in range(10, 20)]
    )
    C = " ".join(["x"] * 40)
    E = "short doc below the window"
    FD = A  # byte-identical later duplicate of A
    docs = spark.createDataFrame(
        [(0, A), (1, B), (2, C), (3, E), (4, FD)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in D.substring_dedup(docs, min_tokens=20).collect()
    }
    assert got[0] == (60, 0, A)  # first occurrence untouched
    assert got[1] == (
        50,
        30,
        " ".join([f"b{i}" for i in range(10)] + [f"b{i}" for i in range(10, 20)]),
    )
    assert got[2] == (40, 39, "x")  # periodic run: first period survives
    assert got[3] == (5, 0, E)
    assert got[4] == (60, 60, "")  # whole-doc later duplicate wiped
    assert got == _py_substring_dedup([A, B, C, E, FD], 20)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(random_corpora())
def test_substring_dedup_matches_python_oracle(spark, texts):
    """Random dense-collision corpora at L=3: the windowed Spark plan
    equals the exact-string Python reference — overlapping repeats,
    intra-doc repeats, and wipeouts included."""
    import degdb_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in D.substring_dedup(docs, min_tokens=3).collect()
    }
    assert got == _py_substring_dedup(texts, 3)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=400),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_boosted_stumps_match_python_reference(spark, rows):
    """train_boosted_stumps must equal a straightforward Python
    replica — same weighted-error argmin over (feature, threshold,
    polarity), same power-of-two reweighting, same micronat alpha,
    same alpha-weighted vote — on random data including empty inputs,
    perfect stumps (err 0), and ties."""
    import math

    from degdb_spark.operators.boost import train_boosted_stumps

    grids = {"f1": [0, 3, 6, 9, 12], "f2": [50, 100, 200, 300]}
    cand = [(f, t) for f in sorted(grids) for t in grids[f]]
    FI = {"f1": 0, "f2": 1}

    def pred(r, f, t, pol):
        return (r[FI[f]] <= t) if pol == 1 else (r[FI[f]] > t)

    def ref(data, rounds=3):
        stumps = []
        for _ in range(rounds):
            if not data:
                stumps.append((cand[0][0], cand[0][1], -1, 0, 0, 0))
                continue
            best = None
            for f, t in cand:
                for pol in (-1, 1):
                    err = W = 0
                    for r in data:
                        w = 2 ** sum(
                            1
                            for (f2, t2, p2, _, _, _) in stumps
                            if pred(r, f2, t2, p2) != (r[2] == 1)
                        )
                        W += w
                        if pred(r, f, t, pol) != (r[2] == 1):
                            err += w
                    key = (err, f, t, pol)
                    if best is None or key < best[:4]:
                        best = (err, f, t, pol, W)
            err, f, t, pol, W = best
            alpha = (
                0 if W == 0
                else math.floor(math.log((W - err) / max(err, 1)) * 1e6 + 0.5)
            )
            stumps.append((f, t, pol, err, W, alpha))
        mis = sum(
            1
            for r in data
            if (
                sum(a if pred(r, f, t, p) else -a for (f, t, p, _, _, a) in stumps)
                > 0
            )
            != (r[2] == 1)
        )
        return sorted(
            [(i + 1, f, t, p, e, w, a) for i, (f, t, p, e, w, a) in enumerate(stumps)]
            + [(0, None, None, None, mis, len(data), None)]
        )

    df = spark.createDataFrame(rows or [], "f1 long, f2 long, label int")
    got = sorted(tuple(r) for r in train_boosted_stumps(df, grids).collect())
    assert got == ref(rows)


def test_boosted_stumps_empty_grid_is_valueerror(spark):
    """An empty candidate grid raises the intended ValueError BEFORE
    any plan is built (ADVICE r11: the guard used to sit after the
    exploded aggregation, where F.array() of zero structs died first
    with an opaque AnalysisException)."""
    import pytest as _pytest

    from degdb_spark.operators.boost import train_boosted_stumps

    df = spark.createDataFrame([(1, 1)], "f1 long, label int")
    with _pytest.raises(ValueError, match="non-empty grid"):
        train_boosted_stumps(df, {})
    with _pytest.raises(ValueError, match="non-empty grid"):
        train_boosted_stumps(df, {"f1": []})


def test_ccnet_normalize_pinned(spark):
    """The CCNet paragraph normalization (operators/dedup.
    ccnet_normalize — Wenzek et al. §3.1) is pinned on crafted
    strings: lowercase, digits -> 0, punctuation -> space, whitespace
    collapsed, trimmed. Paragraphs differing only in those dimensions
    must hash identically; genuinely different text must not."""
    from degdb_spark.operators.dedup import ccnet_normalize

    cases = [
        ("Hello,  World!", "hello world"),
        ("call 555-1234 NOW", "call 000 0000 now"),
        ("  spaced\tout text  ", "spaced out text"),
        ("price: $9.99 (sale)", "price 0 00 sale"),
        ("", ""),
        ("already normal", "already normal"),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)],
                               "i long, s string")
    got = {r["i"]: r["n"] for r in
           df.select("i", ccnet_normalize(F.col("s")).alias("n")).collect()}
    assert got == {i: want for i, (_, want) in enumerate(cases)}


def test_paragraph_dedup_matches_python_reference(spark):
    """paragraph_dedup equals a straightforward Python replica on a
    crafted multi-paragraph corpus: first (doc, position) occurrence
    of each NORMALIZED paragraph survives, documents reassemble from
    surviving RAW paragraphs newline-joined, empty paragraphs are
    dropped in the split, and a fully-duplicated doc comes back as
    ''. Case/digit/punct variants of a repeated banner must dedup."""
    import re

    from degdb_spark.operators.dedup import paragraph_dedup

    banner = "Accept our cookies to continue."
    docs = [
        (0, f"alpha text one\n{banner}\nunique tail zero"),
        (1, f"{banner.upper()}\nbeta body text"),          # case variant drops
        (2, f"accept our cookies, to continue!\ngamma\n\n\nafter blanks"),
        (3, banner),                                        # fully duplicated
        (4, "alpha text one\ndelta closes"),                # para dup of doc 0's p0
        (5, "  \n \n"),                                     # nothing but blanks
    ]

    def norm(p):
        x = p.lower()
        x = re.sub(r"\d", "0", x)
        x = re.sub(r"[^\w\s]", " ", x)
        return re.sub(r"\s+", " ", x).strip()

    paras = {
        d: [p for p in re.split(r"\n+", t) if p.strip() != ""] for d, t in docs
    }
    first = {}
    for d, t in docs:
        for i, p in enumerate(paras[d]):
            first.setdefault(norm(p), (d, i))
    want = {}
    for d, t in docs:
        kept = [p for i, p in enumerate(paras[d]) if first[norm(p)] == (d, i)]
        want[d] = (len(paras[d]), len(kept), "\n".join(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_clean"])
        for r in paragraph_dedup(df).collect()
    }
    assert got == want
    assert got[3] == (1, 0, "")         # fully duplicated -> empty rewrite
    assert got[1][1] == 1               # case variant of the banner dropped
    assert got[2][0] == 3               # blank paragraphs never counted
    assert got[5] == (0, 0, "")


def test_fuzzy_contamination_catches_edited_benchmark_copy(spark):
    """fuzzy_contamination (the middle decontamination rung): a
    lightly EDITED benchmark copy — the case exact 3-gram overlap can
    under-report — band-collides and verifies at Jaccard >= 0.4;
    unrelated docs stay clean; never-candidate docs carry the
    -1.0 max_jaccard sentinel. The planted edit keeps most shingles
    (word swap deep in the doc) so at least one of the 8 bands
    matches."""
    from degdb_spark.operators.dedup import fuzzy_contamination

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    edited = base.replace("upsilon", "changed")  # edit at the tail
    rows_bench = [(100, base)]
    rows_corpus = [
        (1, edited),
        (2, "totally different words about spark shuffles and parquet files"),
    ]
    bench = spark.createDataFrame(rows_bench, "doc_id long, text string")
    corpus = spark.createDataFrame(rows_corpus, "doc_id long, text string")
    rep = {r.doc_id: r for r in fuzzy_contamination(corpus, bench).collect()}
    assert set(rep) == {1, 2}
    assert rep[1].fuzzy_contaminated and rep[1].n_bench_matches == 1
    assert rep[1].max_jaccard >= 0.9  # 19/21 shared tokens
    assert not rep[2].fuzzy_contaminated and rep[2].max_jaccard == -1.0
