"""Similarity-search operator tests: exactness of brute force, recall of
the LSH path."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _vecs(spark, dim=8):
    rows = [
        (0, [1.0] + [0.0] * (dim - 1), 0),
        (1, [1.0, 0.01] + [0.0] * (dim - 2), 0),  # nearly parallel to 0
        (2, [0.0, 1.0] + [0.0] * (dim - 2), 1),  # orthogonal to 0
        (3, [-1.0] + [0.0] * (dim - 1), 1),  # antiparallel to 0
        (4, [1.0, 1.0] + [0.0] * (dim - 2), 0),  # 45° to 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_cosine_exact(spark):
    from degdb_spark.operators.similarity import brute_force_topk

    df = _vecs(spark)
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=4)
    got = {r.neighbor_id: r.cosine_sim for r in out.collect()}
    assert got[1] == pytest.approx(1 / math.sqrt(1 + 0.01**2), abs=1e-4)
    assert got[2] == pytest.approx(0.0, abs=1e-4)
    assert got[3] == pytest.approx(-1.0, abs=1e-4)
    assert got[4] == pytest.approx(1 / math.sqrt(2), abs=1e-4)
    ranks = {r.neighbor_id: r.rank for r in out.collect()}
    assert ranks[1] == 1 and ranks[4] == 2 and ranks[2] == 3 and ranks[3] == 4


def test_lsh_recall_on_testdata(spark):
    """SRP-LSH top-5 must recover most of the exact top-5 on the real
    embeddings table (recall ≥ 0.6 with 8 tables × 4 planes — the
    synthetic Gaussian embeddings have low-cosine neighbors, which is
    the hard case for SRP)."""
    from degdb_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_embedding_near_dups_self(spark):
    from degdb_spark.operators.similarity import embedding_near_dups

    df = _vecs(spark)
    pairs = {(r.id_a, r.id_b) for r in embedding_near_dups(df, threshold=0.99).collect()}
    assert (0, 1) in pairs  # the nearly-parallel pair
    assert (0, 3) not in pairs  # antiparallel


def test_ivf_recall_on_testdata(spark):
    """IVF with 16 cells / 4 probes must recover a good share of the
    exact top-5 (clusterable synthetic data; recall bound is loose
    because the quantizer is coarse)."""
    from degdb_spark.operators.ml_lsh import ivf_topk
    from degdb_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_lloyd_centroids_deterministic_and_empty_cells_keep_init(spark):
    """Seeded Lloyd: (a) two runs over differently-partitioned input
    give bit-identical centroids (decimal-sum means are order-
    independent — the property the oracle replay depends on); (b) cells
    that capture no points keep their init centroid; (c) captured cells
    move to the FLOOR-rounded coordinate mean of their members."""
    from degdb_spark.operators.ml_lsh import lloyd_centroids

    init = [[10.0, 10.0], [-10.0, -10.0], [100.0, 100.0], [-100.0, 100.0]]
    pts = [([1.0, 2.0],), ([3.0, 2.0],), ([-1.0, -5.0],)]
    df1 = spark.createDataFrame(pts, "embedding: array<double>").repartition(1)
    df8 = spark.createDataFrame(pts, "embedding: array<double>").repartition(8)
    c1 = lloyd_centroids(df1, init, n_rounds=2)
    c8 = lloyd_centroids(df8, init, n_rounds=2)
    assert c1 == c8
    # cells 2 and 3 never capture anything: init preserved verbatim
    assert c1[2] == init[2] and c1[3] == init[3]
    # cell 0 captures the two positive points, cell 1 the negative one
    assert c1[0] == [2.0, 2.0]
    assert c1[1] == [-1.0, -5.0]


def test_semantic_dedup_keeps_farthest_from_centroid(spark):
    """SemDeDup keep policy, falsifiably: v0 sits ON the cell centroid
    with two >=tau neighbors (v1, v2) that are farther from the
    centroid but dissimilar to EACH OTHER. Keep-farthest drops exactly
    v0 (1 dropped); the reversed (keep-nearest) policy would drop both
    v1 and v2 (2 dropped) — so the count distinguishes the directions.
    A lone vector in the other cell must survive untouched."""
    from degdb_spark.operators.ml_lsh import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),     # csim=1.0 — nearest the centroid, dropped
        (1, [0.9, 0.3]),     # csim≈0.9487; cos(v0,v1)≈0.9487 >= tau
        (2, [0.9, -0.3]),    # csim≈0.9487; cos(v1,v2)=0.8 < tau → kept
        (3, [0.0, 2.0]),     # alone in cell 1 → kept
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    got = {
        (r.cell, r.n_vectors, r.n_dropped, r.n_kept)
        for r in semantic_dedup(
            df, [[1.0, 0.0], [0.0, 1.0]], threshold=0.9
        ).collect()
    }
    assert got == {(0, 3, 1, 2), (1, 1, 0, 1)}


def test_semantic_dedup_clustered_corpus_keeps_one_per_cluster(spark):
    """Skew property for the SemDeDup pair join: on a corpus of 4
    tight direction-clusters × 40 near-identical vectors, the trained
    quantizer must keep cells balanced (the within-cell pair volume is
    Σ|cell|², so one hot cell is the operator's only failure mode) and
    the keep policy must reduce every cluster to exactly ONE survivor:
    the minimum-csim (farthest-from-centroid) vector, ties broken by
    id, is the only one with no farther keeper."""
    from degdb_spark.operators.ml_lsh import lloyd_centroids, semantic_dedup

    dim, per = 8, 40
    rows = []
    for c in range(4):
        for i in range(per):
            v = [0.0] * dim
            v[c] = 1.0
            v[4 + c] = 0.001 * i  # tiny jitter, cos stays >= 0.999
            rows.append((c * per + i, v))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    init_rows = (
        df.filter(F.col("vec_id") % per == 0).orderBy("vec_id")
        .select("embedding").collect()
    )
    cents = lloyd_centroids(df, [list(r[0]) for r in init_rows], n_rounds=2)
    out = semantic_dedup(df, cents, threshold=0.99).collect()
    assert len(out) == 4
    assert {r.n_vectors for r in out} == {per}, "cells must stay balanced"
    assert all(r.n_kept == 1 for r in out), "one survivor per dup cluster"


def test_semantic_dedup_empty_corpus(spark, tmp_path):
    """Degenerate input: an EMPTY embeddings table must flow through
    the whole contract path (data-point init collect → Lloyd →
    assignment → summary) and return zero rows — the empty centroid
    literal would otherwise be array<void> and fail analysis."""
    from degdb_spark.queries.embeddings_queries import semantic_dedup_summary

    spark.createDataFrame(
        [], "vec_id: long, embedding: array<double>, label: int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    assert semantic_dedup_summary(spark, str(tmp_path)).collect() == []


def test_kcenter_select_matches_python_reference(spark):
    """kcenter_select must equal the straight Python replica of the
    same greedy — sequential-fold dot products, 6-dp round-half-up
    (floor(x·1e6 + 0.5)/1e6) cosine distances, (dist desc, id asc)
    argmax — on vectors with planted diversity structure and an exact
    argmax tie."""
    from degdb_spark.operators.kcenter import kcenter_select

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.02, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (3, [0.0, 0.0, 1.0, 0.0]),    # orthogonal (ties with 2 vs seed)
        (4, [-1.0, 0.0, 0.0, 0.0]),   # antiparallel — farthest from 0
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def dist(a, n2a, b):
        d = 1.0 - dot(a, b) / (math.sqrt(n2a) * math.sqrt(dot(b, b)))
        return math.floor(d * 1_000_000.0 + 0.5) / 1_000_000.0

    pts = {i: v for i, v in rows}
    n2 = {i: dot(v, v) for i, v in rows}
    picks, centers = [(1, 0, 0.0)], [pts[0]]
    for rank in range(2, 5):
        best = min(
            (-(min(dist(pts[i], n2[i], c) for c in centers)), i)
            for i in pts
        )
        md, i = -best[0], best[1]
        picks.append((rank, i, md))
        centers.append(pts[i])

    got = [
        (r.sel_rank, r.vec_id, r.dist)
        for r in kcenter_select(df, k=4).orderBy("sel_rank").collect()
    ]
    assert got == picks
    # structure: the antiparallel point is picked second (farthest),
    # and the near-dup of the seed is never picked
    assert got[1][1] == 4
    assert all(vid != 1 for _, vid, _ in got)


def test_kcenter_empty_input_raises(spark):
    """ADVICE r9: an empty embeddings table must raise a clear
    ValueError, not IndexError from the seed collect."""
    from degdb_spark.operators.kcenter import kcenter_select

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        kcenter_select(empty, k=3)


def test_kcenter_k_exceeding_distinct_points_stops_early(spark):
    """ADVICE r9: when every remaining point coincides (at 6 dp) with a
    selected center, selection stops instead of re-picking the md=0
    seed into duplicate rows — output is capped at the distinct-point
    count."""
    from degdb_spark.operators.kcenter import kcenter_select

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),   # exact duplicate of 0
        (2, [0.0, 1.0]),
        (3, [0.0, 2.0]),   # same direction as 2 → cosine-coincident
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = kcenter_select(df, k=5).orderBy("sel_rank").collect()
    # only two cosine-distinct directions exist; no duplicates, no
    # repeated vec_id, ranks stay contiguous
    assert [r.sel_rank for r in got] == [1, 2]
    assert [r.vec_id for r in got] == [0, 2]


def test_hard_negative_triplets_match_python_reference(spark, tmp_path):
    """hard_negative_triplets must equal the straight Python replica —
    6-dp round-half-up cosine distances, (dist, id) lexicographic
    argmins per side, margin arithmetic — on vectors with planted
    positive/negative structure including a distance tie."""
    from degdb_spark.queries.embeddings_queries import hard_negative_triplets

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.05, 0.0], 0),    # nearest same-label to 0
        (2, [1.0, 0.30, 0.0], 0),
        (3, [0.9, 0.40, 0.0], 1),    # nearest other-label to 0
        (4, [0.0, 1.0, 0.0], 1),
        (5, [0.0, 1.0, 0.05], 1),
        (6, [1.0, 0.05, 0.0], 0),    # exact duplicate of 1 → tie, id 1 wins
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def d6(a, b):
        d = 1.0 - dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        return math.floor(d * 1_000_000 + 0.5) / 1_000_000

    pts = {i: (v, l) for i, v, l in rows}
    expect = []
    for aid in sorted(pts):
        av, al = pts[aid]
        sides = {}
        for same in (True, False):
            cands = [
                (d6(av, v), i)
                for i, (v, l) in pts.items()
                if i != aid and (l == al) == same
            ]
            sides[same] = min(cands)
        m = sides[False][0] - sides[True][0]
        expect.append(
            (aid, sides[True][1], sides[True][0], sides[False][1], sides[False][0],
             math.floor(m * 1_000_000 + 0.5) / 1_000_000)
        )

    got = [tuple(r) for r in hard_negative_triplets(spark, str(tmp_path)).collect()]
    assert got == expect
    # the planted structure: anchor 0's positive is 1 (not its dup 6 —
    # tie broken by id), its hard negative is 3
    assert got[0][1] == 1 and got[0][3] == 3


def test_mmr_select_matches_python_reference(spark):
    """mmr_select must equal the straight Python replica — 6-dp
    round-half-up similarities, the 0-floored max-sim-to-selected
    clamp (a candidate anti-similar to every pick gets penalty 0, not
    a bonus), explicit 0.7/0.3 literals, (score desc, id asc) argmax —
    on vectors with planted relevance/diversity structure including a
    negative-similarity candidate and an exact duplicate."""
    from degdb_spark.operators.mmr import mmr_select

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # the QUERY (min id)
        (1, [1.0, 0.05, 0.0, 0.0]),   # most relevant (tie with 2 and 3)
        (2, [1.0, 0.05, 0.0, 0.0]),   # EXACT duplicate of 1
        (3, [1.0, -0.05, 0.0, 0.0]),  # equally relevant, diverse twin
        (4, [-1.0, 0.0, 0.0, 0.0]),   # anti-similar to everything
        (5, [0.0, 0.0, 1.0, 0.0]),    # orthogonal
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def s6(a, b):
        s = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        return math.floor(s * 1_000_000 + 0.5) / 1_000_000

    def q6(x):
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    pts = {i: v for i, v in rows}
    q = pts[0]
    cand = {i: v for i, v in pts.items() if i != 0}
    rel = {i: s6(q, v) for i, v in cand.items()}
    picks, sel = [], []
    for rank in range(1, 5):
        best = None
        for i in sorted(cand):
            if i in (p[1] for p in picks):
                continue
            ms = max([0.0] + [s6(cand[i], pts[s]) for s in sel])
            score = q6(0.7 * rel[i] - 0.3 * ms)
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, score)
        picks.append((rank, best[1], best[2]))
        sel.append(best[1])

    got = [
        (r.sel_rank, r.vec_id, r.score)
        for r in mmr_select(df, k=4).orderBy("sel_rank").collect()
    ]
    assert got == picks
    # structure: the three-way relevance tie breaks to id 1; round 2
    # demotes 1's EXACT duplicate (penalty 0.3·1.0) behind the equally
    # relevant diverse twin 3 — the reorder pure relevance cannot make
    assert got[0][1] == 1
    assert got[1][1] == 3


def test_mmr_empty_input_raises(spark):
    from degdb_spark.operators.mmr import mmr_select

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        mmr_select(empty, k=3)


def test_mmr_select_matches_python_reference_random(spark):
    """Hypothesis tier for MMR: random small vector sets — duplicate
    vectors, anti-similar vectors (the 0-floor clamp), score ties, and
    k exceeding the candidate count — must equal the Python replica at
    every rank."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from degdb_spark.operators.mmr import mmr_select

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.randoms(use_true_random=False))
    def prop(rnd):
        n = rnd.randrange(2, 9)
        dim = rnd.choice([2, 3])
        # small integer grids make exact duplicates and ties likely
        vecs = []
        for i in range(n):
            v = [float(rnd.randrange(-2, 3)) for _ in range(dim)]
            if all(x == 0.0 for x in v):
                v[0] = 1.0  # avoid zero vectors (norm 0)
            vecs.append((i, v))
        k = rnd.randrange(1, n + 2)  # may exceed the candidate count
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])

        def dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + x * y
            return acc

        def s6(a, b):
            s = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
            return math.floor(s * 1_000_000 + 0.5) / 1_000_000

        def q6(x):
            return math.floor(x * 1_000_000 + 0.5) / 1_000_000

        pts = dict(vecs)
        q = pts[0]
        cand = {i: v for i, v in pts.items() if i != 0}
        rel = {i: s6(q, v) for i, v in cand.items()}
        picks, sel = [], []
        for rank in range(1, k + 1):
            best = None
            for i in sorted(set(cand) - set(sel)):
                ms = max([0.0] + [s6(cand[i], pts[s]) for s in sel])
                score = q6(0.7 * rel[i] - 0.3 * ms)
                key = (-score, i)
                if best is None or key < best[0]:
                    best = (key, i, score)
            if best is None:
                break
            picks.append((rank, best[1], best[2]))
            sel.append(best[1])

        got = [
            (r.sel_rank, r.vec_id, r.score)
            for r in mmr_select(df, k=k).orderBy("sel_rank").collect()
        ]
        assert got == picks

    prop()


def test_hard_negatives_single_label_is_empty(spark, tmp_path):
    """A corpus with one label has no hard negatives: the inner join
    against the empty negative side yields an empty result — never a
    crash or a row with a null negative."""
    from degdb_spark.queries.embeddings_queries import hard_negative_triplets

    spark.createDataFrame(
        [(i, [1.0, float(i)], 0) for i in range(5)],
        "vec_id long, embedding array<double>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    assert hard_negative_triplets(spark, str(tmp_path)).collect() == []


def _knn_graph_replica(V, k, rounds, rho=1):
    """Pure-Python NN-Descent with the capped reverse-neighbor table:
    the exact semantics of operators/knngraph.py — deterministic
    (id+j) mod n init, per-pivot reverse slice of rho*k in
    (md5(pivot:nbr), nbr) order, 6-dp floor-rounding, (sim DESC, nbr
    ASC) tie-break. Returns (final_state, init_state) as
    {id: {nbr: sim}} dicts."""
    import hashlib
    import math

    n = len(V)

    def sim(a, b):
        d = 0.0
        for x, y in zip(V[a], V[b]):
            d += x * y
        na = math.sqrt(sum(x * x for x in V[a]))
        nb = math.sqrt(sum(x * x for x in V[b]))
        return math.floor((d / (na * nb)) * 1e6 + 0.5) / 1e6

    def topk(d):
        return dict(sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:k])

    def md5hex(p, i):
        return hashlib.md5(f"{p}:{i}".encode()).hexdigest()

    state = {
        i: topk({(i + j) % n: sim(i, (i + j) % n) for j in range(1, k + 1)})
        for i in range(n)
    }
    init_state = {i: dict(state[i]) for i in range(n)}
    for _ in range(rounds):
        rev = {i: [] for i in range(n)}
        for i in range(n):
            for nb in state[i]:
                rev[nb].append(i)
        gen = {i: set(state[i]) for i in range(n)}
        for p in range(n):
            gen[p].update(
                sorted(rev[p], key=lambda i: (md5hex(p, i), i))[: rho * k]
            )
        cand = {i: set() for i in range(n)}
        for p in range(n):
            mem = list(gen[p])
            for x in mem:
                for y in mem:
                    if x != y:
                        cand[x].add(y)
        state = {
            i: topk(
                {**{c: sim(i, c) for c in cand[i]}, **state[i]}
            )
            for i in range(n)
        }
    return state, init_state


def _state_rows(state):
    return sorted(
        (i, r + 1, nb, s)
        for i in state
        for r, (nb, s) in enumerate(
            sorted(state[i].items(), key=lambda kv: (-kv[1], kv[0]))
        )
    )


def test_knn_graph_descent_matches_python_reference(spark):
    """NN-Descent k-NN graph (operators/knngraph.py) equals a
    straightforward Python replica — same deterministic init, same
    md5-order reverse cap, same local-join candidate sets, same 6-dp
    rounding and (sim DESC, nbr ASC) tie-break — for the full 2-round
    trajectory on random vectors; and improves recall@k over its own
    init."""
    import numpy as np

    from degdb_spark.operators.knngraph import knn_graph_descent

    rng = np.random.default_rng(3)
    n, dim, k, rounds = 60, 8, 4, 2
    V = rng.normal(size=(n, dim)).astype(np.float32).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = sorted(
        tuple(r) for r in knn_graph_descent(emb, k=k, rounds=rounds).collect()
    )
    state, init_state = _knn_graph_replica(V, k, rounds)
    want = _state_rows(state)
    assert got == want

    import math

    def sim(a, b):
        d = sum(x * y for x, y in zip(V[a], V[b]))
        na = math.sqrt(sum(x * x for x in V[a]))
        nb = math.sqrt(sum(x * x for x in V[b]))
        return math.floor((d / (na * nb)) * 1e6 + 0.5) / 1e6

    exact = {
        i: {
            j
            for j, _ in sorted(
                ((j, sim(i, j)) for j in range(n) if j != i),
                key=lambda t: (-t[1], t[0]),
            )[:k]
        }
        for i in range(n)
    }
    rec = lambda st: sum(len(exact[i] & set(st[i])) for i in range(n)) / (n * k)
    assert rec(state) > rec(init_state)  # descent actually descends

    # the cap must not dent recall on a uniform corpus: vs the UNCAPPED
    # replica (rho = n makes every reverse neighbor survive the slice)
    uncapped, _ = _knn_graph_replica(V, k, rounds, rho=n)
    assert rec(state) >= rec(uncapped) - 0.02

    # degenerate: n <= k yields an empty frame, not a raise
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    assert knn_graph_descent(tiny, k=4).count() == 0

    # rounds=0 returns the scored init graph (ADVICE r11), rounds<0 raises
    got0 = sorted(
        tuple(r) for r in knn_graph_descent(emb, k=k, rounds=0).collect()
    )
    assert got0 == _state_rows(init_state)
    import pytest

    with pytest.raises(ValueError, match="rounds"):
        knn_graph_descent(emb, k=k, rounds=-1)
    with pytest.raises(ValueError, match="rho"):
        knn_graph_descent(emb, k=k, rho=0)


def _clustered_corpus(n_clusters=20, per=25, dim=16, seed=9):
    """The realistic graph-ANN fixture: tight clusters (embeddings of
    near-duplicate content), ids SHUFFLED so they are uncorrelated
    with geometry (hash-assigned ids — every real ingest), which is
    what makes the deterministic long links uniform shortcuts."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for c in range(n_clusters):
        for _ in range(per):
            pts.append(centers[c] + 0.15 * rng.normal(size=dim))
    perm = rng.permutation(len(pts))
    V = np.zeros((len(pts), dim))
    for i, p in enumerate(pts):
        V[int(perm[i])] = p
    return V


def _beam_replica(V, adj, qids, k, beam, hops):
    """Pure-Python beam search — graph_knn_search's exact semantics:
    entry = the `beam` smallest ids, per hop expand every beam node's
    neighbors, 6-dp floor cosine, keep best-`beam` by (sim DESC, node
    ASC), final top-k excluding self."""
    import math

    import numpy as np

    norms = np.linalg.norm(V, axis=1)

    def sim(a, b):
        return math.floor(float(V[a] @ V[b]) / (norms[a] * norms[b]) * 1e6 + 0.5) / 1e6

    out = []
    for q in qids:
        best = {node: sim(q, node) for node in range(beam)}
        for _ in range(hops):
            cand = set()
            for node in best:
                cand.update(adj.get(node, ()))
            allc = dict(best)
            for c in cand:
                allc.setdefault(c, sim(q, c))
            best = dict(sorted(allc.items(), key=lambda kv: (-kv[1], kv[0]))[:beam])
        ranked = [
            (nid, s)
            for nid, s in sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))
            if nid != q
        ][:k]
        out += [(q, r + 1, nid, s) for r, (nid, s) in enumerate(ranked)]
    return sorted(out)


def test_graph_knn_search_matches_python_replica(spark):
    """graph_knn_search == the pure-Python beam search for the FULL
    trajectory (every hop's beam, every tie-break) on the clustered
    fixture, walking the navigable (NN-Descent ∪ long-link)
    adjacency."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.knngraph import (
        graph_knn_search,
        knn_graph_descent,
        navigable_adjacency,
    )

    V = _clustered_corpus()
    n = len(V)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    gk, rounds, beam, hops, k = 8, 3, 8, 3, 5
    graph = knn_graph_descent(emb, k=gk, rounds=rounds, rho=1).select(
        "id", "neighbor_id"
    )
    adj_df = navigable_adjacency(graph, emb, k_long=gk).localCheckpoint()
    adj = {}
    for r in adj_df.collect():
        adj.setdefault(r["id"], set()).add(r["neighbor_id"])
    queries = emb.filter(F.col("vec_id") % 50 == 3)
    got = sorted(
        tuple(r)
        for r in graph_knn_search(
            adj_df, emb, queries, k=k, beam=beam, hops=hops
        ).collect()
    )
    qids = [i for i in range(n) if i % 50 == 3]
    assert got == _beam_replica(V, adj, qids, k, beam, hops)


def test_graph_knn_search_broadcast_gate_result_identical(spark):
    """The broadcast_frontier gate switches LAYOUT only: the bounded
    walk (frontier broadcast, beam state coalesced to one partition
    before each pin) and the unbounded insertion-path layout (spread
    state, planner-chosen joins) must return bit-identical rows —
    the invariant the r14 one-partition beam-state compaction (and
    the r13 insertion-path gate before it) silently rely on."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.knngraph import (
        graph_knn_search,
        knn_graph_descent,
        navigable_adjacency,
    )

    V = _clustered_corpus()
    n = len(V)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    graph = knn_graph_descent(emb, k=8, rounds=2, rho=1).select(
        "id", "neighbor_id"
    )
    adj_df = navigable_adjacency(graph, emb, k_long=8).localCheckpoint()
    queries = emb.filter(F.col("vec_id") % 50 == 3)
    kw = dict(k=5, beam=8, hops=3)
    a = sorted(
        tuple(r)
        for r in graph_knn_search(
            adj_df, emb, queries, broadcast_frontier=True, **kw
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in graph_knn_search(
            adj_df, emb, queries, broadcast_frontier=False, **kw
        ).collect()
    )
    assert a == b


def test_graph_knn_recall_beats_ivf_at_matched_budget(spark):
    """The reason graph ANN exists: at a MATCHED candidate budget on a
    clustered corpus, the navigable-graph beam walk beats IVF probing.
    Walk budget = beam + beam·deg·hops ≈ 100 scored nodes; IVF gets 8
    fixed axis centroids with n_probe=2 (~125 scored vectors — more
    than the walk). Asserts graph recall@5 >= IVF recall@5 AND >= 0.8
    absolute, against exact brute force."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.ml_lsh import ivf_topk_fixed
    from degdb_spark.operators.knngraph import (
        graph_knn_search,
        knn_graph_descent,
        navigable_adjacency,
    )
    from degdb_spark.operators.similarity import brute_force_topk

    V = _clustered_corpus()
    n, dim = V.shape
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter(F.col("vec_id") % 50 == 3)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    graph = knn_graph_descent(emb, k=8, rounds=5, rho=1).select(
        "id", "neighbor_id"
    )
    adj = navigable_adjacency(graph, emb, k_long=8).localCheckpoint()
    walk = {
        (r.query_id, r.neighbor_id)
        for r in graph_knn_search(adj, emb, queries, k=5, beam=8, hops=3).collect()
    }
    cents = [[0.0] * dim for _ in range(8)]
    for j in range(8):
        cents[j][j] = 1.0
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_fixed(emb, queries, cents, k=5, n_probe=2).collect()
    }
    g_recall = len(exact & walk) / len(exact)
    i_recall = len(exact & ivf) / len(exact)
    assert g_recall >= i_recall
    assert g_recall >= 0.8


def test_graph_index_lifecycle_serve_refresh(spark):
    """The persisted k-NN graph index serves the same walk as the
    in-plan graph: the from-index walk equals the in-plan walk on a
    fresh build."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.knngraph import (
        build_knn_graph_index,
        graph_index_knn,
        graph_knn_search,
        knn_graph_descent,
        navigable_adjacency,
    )
    from degdb_spark.operators.pq import drop_managed_table

    V = _clustered_corpus()
    n = len(V)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    table = "t_graph_idx_lifecycle"
    try:
        build_knn_graph_index(emb, table, k=8, rounds=3, rho=1)
        queries = emb.filter(F.col("vec_id") % 50 == 3)
        served = sorted(
            tuple(r)
            for r in graph_index_knn(
                spark, table, queries, k=5, beam=8, hops=3, k_long=8
            ).collect()
        )
        graph = knn_graph_descent(emb, k=8, rounds=3, rho=1).select(
            "id", "neighbor_id"
        )
        inplan = sorted(
            tuple(r)
            for r in graph_knn_search(
                navigable_adjacency(graph, emb, k_long=8),
                emb, queries, k=5, beam=8, hops=3,
            ).collect()
        )
        assert served == inplan
    finally:
        for t in (table, f"{table}_vectors"):
            drop_managed_table(spark, t)


def test_navigable_adjacency_noncontiguous_ids(spark):
    """Long links derive from the ID-SPACE size max(id)+1, not the
    live row count (ADVICE r12): with gappy ids every node — including
    ids >= count — gets its k_long shortcuts, at exactly
    (id + j*floor(m/(k_long+1))) % m, m = max(id)+1."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.knngraph import navigable_adjacency

    ids = [0, 2, 5, 9, 11]  # count=5, max(id)+1=12 — count-modulus would strand 5,9,11
    emb = spark.createDataFrame([(i, [float(i)]) for i in ids],
                                "vec_id long, embedding array<double>")
    empty_graph = spark.createDataFrame([], "id long, neighbor_id long")
    adj = navigable_adjacency(empty_graph, emb, k_long=2)
    got = {(r.id, r.neighbor_id) for r in adj.collect()}
    m, stride = 12, 12 // 3
    want = {(i, (i + j * stride) % m) for i in ids for j in (1, 2)}
    assert got == want


def test_semantic_contamination_flags_planted_paraphrase(spark):
    """semantic_contamination (embedding-space decontamination): a
    corpus vector that is a near-copy of a benchmark vector is
    flagged; orthogonal vectors are not; and on this clustered
    fixture the IVF-probed verdict equals brute force (the planted
    pair shares its nearest cell by construction). Flags ride the
    per-doc report every downstream rollup consumes."""
    import numpy as np

    from degdb_spark.operators.dedup import semantic_contamination
    from degdb_spark.operators.similarity import make_hyperplanes

    rng_axis = np.zeros(8); rng_axis[0] = 1.0
    far_axis = np.zeros(8); far_axis[4] = 1.0
    rows = []
    # bench ids 0,25 (the %25 convention); 0 sits on axis-0
    rows.append((0, [float(x) for x in rng_axis]))
    rows.append((25, [float(x) for x in far_axis]))
    # corpus: 1 = near-copy of bench 0 (paraphrase leak), others far
    near = rng_axis + 0.05 * np.arange(8) / 8.0
    rows.append((1, [float(x) for x in near]))
    for i in (2, 3, 4):
        v = np.zeros(8); v[i + 3] = 1.0; v[0] = -0.2
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bench = emb.filter(F.col("vec_id") % 25 == 0)
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    cents = make_hyperplanes(8, 4, seed=777)
    rep = {
        r.vec_id: r
        for r in semantic_contamination(
            corpus, bench, cents, threshold=0.9, n_probe=2
        ).collect()
    }
    assert set(rep) == {1, 2, 3, 4}
    assert rep[1].sem_contaminated and rep[1].max_sim >= 0.99
    assert not any(rep[i].sem_contaminated for i in (2, 3, 4))
    # brute-force agreement on the planted pair
    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    want = {i: any(cos(dict(rows)[i], dict(rows)[b]) >= 0.9 for b in (0, 25))
            for i in (1, 2, 3, 4)}
    assert {i: rep[i].sem_contaminated for i in want} == want


def test_hnsw_two_layer_recall_at_reduced_budget(spark):
    """Two-layer walk (hnsw_knn_search): on the clustered fixture the
    coarse-seeded walk at a REDUCED total hop budget (1+2=3 vs the
    single-layer 3+entry... here: coarse 1 hop + fine 2 hops vs
    single-layer 3 fine hops) reaches at least the single-layer
    recall — the HNSW layer earns its cost by landing the fine walk
    in the query's region. Also sanity: every result is a real
    corpus id and ranks are 1..k."""
    from degdb_spark.operators.knngraph import (
        graph_knn_search,
        hnsw_knn_search,
        knn_graph_descent,
        navigable_adjacency,
    )
    from degdb_spark.operators.similarity import brute_force_topk

    V = _clustered_corpus()
    n = len(V)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter(F.col("vec_id") % 50 == 3)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    graph = knn_graph_descent(emb, k=8, rounds=3, rho=1).select(
        "id", "neighbor_id"
    )
    adj = navigable_adjacency(graph, emb, k_long=8).localCheckpoint()
    single = {
        (r.query_id, r.neighbor_id)
        for r in graph_knn_search(adj, emb, queries, k=5, beam=8, hops=3).collect()
    }
    two = hnsw_knn_search(
        emb, queries, k=5, beam=8, hops=2, graph_k=8, rounds=3, rho=1,
        coarse_mod=4, coarse_k=8, coarse_rounds=1, coarse_hops=1,
    ).collect()
    two_set = {(r.query_id, r.neighbor_id) for r in two}
    s_recall = len(exact & single) / len(exact)
    t_recall = len(exact & two_set) / len(exact)
    assert t_recall >= s_recall, (t_recall, s_recall)
    assert t_recall >= 0.8
    ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert all(r.neighbor_id in ids and 1 <= r.rank <= 5 for r in two)


def test_graph_ann_no_duplicate_neighbors(spark):
    """The single-exchange top-k collapses duplicate (id, nbr)
    candidates with array_distinct instead of a groupBy.max
    pre-collapse — correct only while every producer scores a pair
    bit-identically (same operand order, same rounding). This pins
    that invariant where it would first break (ADVICE r13): on a
    corpus of near-identical vectors the state and local-join
    candidate sets overlap maximally, so any score divergence between
    duplicate entries would leave BOTH copies occupying top-k slots.
    Asserts no duplicate neighbor per id in the descent graph and no
    duplicate neighbor per query in the walk."""
    from pyspark.sql import functions as F

    from degdb_spark.operators.knngraph import (
        graph_knn_search,
        knn_graph_descent,
        navigable_adjacency,
    )

    # 40 vectors in 4 tight clones-with-jitter groups: candidate sets
    # within a group are near-total overlap, and exact duplicates make
    # mirrored/re-scored sims collide on every tie-break axis
    rows = []
    for i in range(40):
        g = i % 4
        base = [1.0 if d == g else 0.0 for d in range(6)]
        base[5] = (i // 4) * 1e-7  # sub-rounding jitter: many exact ties
        rows.append((i, base))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    graph = knn_graph_descent(emb, k=6, rounds=2, rho=1)
    per_id = (
        graph.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("neighbor_id").alias("nd"),
        )
        .collect()
    )
    assert per_id and all(r.n == r.nd for r in per_id)

    adj = navigable_adjacency(graph.select("id", "neighbor_id"), emb, k_long=4)
    hits = graph_knn_search(
        adj, emb, emb.filter(F.col("vec_id") < 8), k=5, beam=6, hops=3
    )
    per_q = (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("neighbor_id").alias("nd"),
        )
        .collect()
    )
    assert per_q and all(r.n == r.nd for r in per_q)
