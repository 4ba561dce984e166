"""Graph-analytics tests with hand-computed fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from degdb_spark.graph import algorithms as G


@pytest.fixture(scope="module")
def tri(spark):
    # two components: {a,b,c,d} (a→b→c, a→d) and {x,y} (x→y)
    rows = [
        ("a", "e", "b"),
        ("b", "e", "c"),
        ("a", "e", "d"),
        ("x", "e", "y"),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_degrees(tri):
    d = {r.id: (r.out_degree, r.in_degree) for r in G.degrees(tri).collect()}
    assert d["a"] == (2, 0)
    assert d["b"] == (1, 1)
    assert d["c"] == (0, 1)
    assert d["y"] == (0, 1)


def test_connected_components(tri):
    cc = {r.id: r.component for r in G.connected_components(tri).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == cc["d"] == "a"
    assert cc["x"] == cc["y"] == "x"


def test_bfs_distances(tri):
    d = {r.id: r.dist for r in G.bfs_distances(tri, "a").collect()}
    assert d == {"a": 0, "b": 1, "d": 1, "c": 2}
    # undirected reaches nothing extra here but respects reverse edges
    du = {r.id: r.dist for r in G.bfs_distances(tri, "c", undirected=True).collect()}
    assert du == {"c": 0, "b": 1, "a": 2, "d": 3}


def test_pagerank_sums_to_n(tri):
    pr = G.pagerank(tri, max_iter=15)
    ranks = {r.id: r.pagerank for r in pr.collect()}
    assert sum(ranks.values()) == pytest.approx(len(ranks), rel=1e-3)
    # sinks accumulate rank: c > b's sources
    assert ranks["c"] > ranks["a"]


def test_pagerank_star_ordering(spark):
    # hub: many nodes point at h
    rows = [(f"n{i}", "e", "h") for i in range(5)]
    tri = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    ranks = {r.id: r.pagerank for r in G.pagerank(tri, max_iter=10).collect()}
    assert ranks["h"] == max(ranks.values())


def test_sssp_weighted(spark):
    """Hand-computed: 1→2 (w 5), 1→3 (w 1), 3→2 (w 1), 2→4 (w 10).
    Shortest: d(2)=2 via 3 (not 5 direct), d(4)=12."""
    from degdb_spark.graph.algorithms import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 1), (3, 2, 1), (2, 4, 10)], ["src", "dst", "w"]
    )
    got = {r.id: r.dist for r in sssp_weighted(edges, 1, max_hops=6).collect()}
    assert got == {1: 0, 2: 2, 3: 1, 4: 12}


def test_sssp_hop_bound(spark):
    """max_hops=1 must NOT see the cheaper 2-edge path (Bellman-Ford
    ≤k-edge semantics — what makes the unrolled oracle exact)."""
    from degdb_spark.graph.algorithms import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 1), (3, 2, 1)], ["src", "dst", "w"]
    )
    got = {r.id: r.dist for r in sssp_weighted(edges, 1, max_hops=1).collect()}
    assert got[2] == 5  # direct edge only after one relaxation


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: LPA labels each triangle
    with its min vertex id."""
    from degdb_spark.graph.algorithms import label_propagation

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    bridge = [(3, 4)]
    und = tri1 + tri2 + bridge
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    vertices = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    got = {r.id: r.label for r in label_propagation(vertices, edges, max_iter=5).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == got[6]


def test_sssp_random_graph_vs_reference(spark):
    """Seeded random weighted digraph: Spark Bellman-Ford vs an
    independent pure-Python relaxation."""
    import random

    from degdb_spark.graph.algorithms import sssp_weighted

    rng = random.Random(7)
    n, m, hops = 30, 120, 8
    edges = [
        (rng.randrange(n), rng.randrange(n), rng.randint(1, 10)) for _ in range(m)
    ]
    # python reference: d_i(v) = min cost over paths of <= hops edges
    INF = float("inf")
    dist = {0: 0}
    for _ in range(hops):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < nxt.get(d, INF):
                nxt[d] = dist[s] + w
        dist = nxt
    got = {
        r.id: r.dist
        for r in sssp_weighted(
            spark.createDataFrame(edges, ["src", "dst", "w"]), 0, max_hops=hops
        ).collect()
    }
    assert got == dist


def test_lpa_random_graph_vs_reference(spark):
    """Seeded random undirected graph: Spark synchronous LPA vs an
    independent pure-Python implementation (same mode/min tie-break)."""
    import random
    from collections import Counter

    from degdb_spark.graph.algorithms import label_propagation

    rng = random.Random(11)
    n, m, iters = 25, 60, 4
    und = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    und = {(a, b) for a, b in und if a != b}
    both = list(und) + [(b, a) for a, b in und]
    # python reference
    labels = {v: v for v in range(n)}
    nbrs: dict[int, list[int]] = {v: [] for v in range(n)}
    for s, d in both:
        nbrs[d].append(s)
    for _ in range(iters):
        new = {}
        for v in range(n):
            if not nbrs[v]:
                new[v] = labels[v]
                continue
            cnt = Counter(labels[u] for u in nbrs[v])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    vertices = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame(both, ["src", "dst"])
    got = {
        r.id: r.label
        for r in label_propagation(vertices, edges, max_iter=iters).collect()
    }
    assert got == labels


def test_kcore_peel(spark):
    # 4-clique {a,b,c,d} with a pendant path e-f hanging off d; both
    # directions materialized. The 3-core is exactly the clique: f has
    # deg 1 (gone round 1), e then has deg 1 (gone round 2), d keeps
    # deg 3 inside the clique.
    und = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"), ("e", "f"),
    ]
    rows = und + [(v, u) for u, v in und]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    core = {r.id: r.deg for r in G.kcore_peel(edges, k=3).collect()}
    assert core == {"a": 3, "b": 3, "c": 3, "d": 3}
    # k=2: the path still peels (f then e), clique survives
    core2 = {r.id: r.deg for r in G.kcore_peel(edges, k=2).collect()}
    assert set(core2) == {"a", "b", "c", "d"}
    # max_rounds short of the fixed point is still deterministic:
    # one round removes only f (deg 1), leaving e with deg 1 counted
    # against the surviving subgraph
    core1 = {r.id: r.deg for r in G.kcore_peel(edges, k=2, max_rounds=1).collect()}
    assert core1 == {"a": 3, "b": 3, "c": 3, "d": 4, "e": 1}


def test_kcore_random_graph_vs_reference(spark):
    """Seeded random undirected graph: Spark synchronous peeling vs an
    independent pure-Python implementation (same all-at-once rounds)."""
    import random

    rng = random.Random(11)
    n, m, k = 24, 70, 3
    und = {(min(a, b), max(a, b)) for a, b in
           ((rng.randrange(n), rng.randrange(n)) for _ in range(m)) if a != b}
    both = list(und) + [(v, u) for u, v in und]

    # python reference: synchronous peel to fixed point
    alive = {u for u, _ in both}
    while True:
        deg = {}
        for u, v in both:
            if u in alive and v in alive:
                deg[u] = deg.get(u, 0) + 1
        nxt = {u for u, d in deg.items() if d >= k}
        if nxt == alive:
            break
        alive = nxt
    exp = {}
    for u, v in both:
        if u in alive and v in alive:
            exp[u] = exp.get(u, 0) + 1

    got = {
        r.id: r.deg
        for r in G.kcore_peel(
            spark.createDataFrame(both, ["src", "dst"]), k=k, max_rounds=50
        ).collect()
    }
    assert got == exp


def test_stress_path_counts_hand_computed_diamond(spark):
    """stress_path_counts on a hand-computed diamond-with-tail graph
    (1-2, 1-3, 2-4, 3-4, 4-5, undirected): every (source, id, dist,
    sigma, psi) tuple verified by hand — sigma > 1 through the diamond
    (two shortest 1→4 paths), psi decomposing by first hop, both
    sweeps truncated at 3 hops."""
    und = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        [(u, v) for u, v in und] + [(v, u) for u, v in und], ["src", "dst"]
    )
    sources = spark.createDataFrame([(1,), (2,)], ["source"])
    got = {
        (r.source, r.id): (r.dist, r.sigma, r.psi)
        for r in G.stress_path_counts(edges, sources, max_hops=3).collect()
    }
    want = {
        # source 1: DAG 1→{2,3}→4→5; two shortest 1→4 paths
        (1, 1): (0, 1, 6),
        (1, 2): (1, 1, 2),
        (1, 3): (1, 1, 2),
        (1, 4): (2, 2, 1),
        (1, 5): (3, 2, 0),
        # source 2: DAG 2→{1,4}, 1→3, 4→{3,5}; two shortest 2→3 paths
        (2, 2): (0, 1, 5),
        (2, 1): (1, 1, 1),
        (2, 4): (1, 1, 2),
        (2, 3): (2, 2, 0),
        (2, 5): (2, 1, 0),
    }
    assert got == want
    # the aggregated stress (sigma * psi over id != source) by hand:
    # node 4 carries 2 (from s=1) + 2 (from s=2) = 4 — the cut vertex
    stress = {}
    for (s, v), (_, sig, psi) in got.items():
        if v != s:
            stress[v] = stress.get(v, 0) + sig * psi
    assert stress == {2: 2, 3: 2, 4: 4, 5: 0, 1: 1}


def test_association_rules_match_hand_computed_baskets(spark, tmp_path):
    """basket_association_rules on hand-built baskets: support,
    confidence, and lift verified against by-hand arithmetic (orders
    {1:AB, 2:AB, 3:ABC, 4:C, 5:AC} → co(A,B)=3, co(A,C)=2, co(B,C)=1
    which falls below the w>=2 threshold)."""
    import math

    rows = []
    baskets = {1: "AB", 2: "AB", 3: "ABC", 4: "C", 5: "AC"}
    part = {"A": 101, "B": 102, "C": 103}
    for ok, items in baskets.items():
        for it in items:
            rows.append((ok, part[it]))
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    from degdb_spark.queries.graph_adv_queries import basket_association_rules

    got = {
        (r.antecedent, r.consequent): (r.co_orders, r.support, r.confidence, r.lift)
        for r in basket_association_rules(spark, str(tmp_path)).collect()
    }

    def d6(x):
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    n, ca, cb, cc = 5, 4, 3, 3  # orders; counts of A, B, C
    want = {
        (101, 102): (3, d6(3 / n), d6(3 / ca), d6(3 * n / (ca * cb))),
        (102, 101): (3, d6(3 / n), d6(3 / cb), d6(3 * n / (cb * ca))),
        (101, 103): (2, d6(2 / n), d6(2 / ca), d6(2 * n / (ca * cc))),
        (103, 101): (2, d6(2 / n), d6(2 / cc), d6(2 * n / (cc * ca))),
    }
    assert got == want  # co(B,C)=1 < 2 correctly excluded


def test_association_rules_match_replica_on_random_baskets(spark, tmp_path):
    """Hypothesis tier for rule mining: random basket sets — repeated
    items within an order (deduped by the DISTINCT items pass), pairs
    exactly at/below the w>=2 threshold, ratio ties in the top-20
    ordering — must equal a straight Python replica."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from degdb_spark.queries.graph_adv_queries import basket_association_rules

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.randoms(use_true_random=False))
    def prop(rnd):
        n_orders = rnd.randrange(3, 9)
        items = list(range(101, 101 + rnd.randrange(3, 6)))
        rows = []
        baskets = {}
        for ok in range(1, n_orders + 1):
            picked = [it for it in items if rnd.random() < 0.6]
            for it in picked:
                # duplicates within an order exercise the DISTINCT pass
                for _ in range(rnd.randrange(1, 3)):
                    rows.append((ok, it))
            baskets[ok] = set(picked)
        if not rows:
            rows, baskets = [(1, items[0])], {1: {items[0]}}
        d = str(tmp_path / f"li_{rnd.randrange(10**9)}")
        import os

        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))

        def d6(x):
            return math.floor(x * 1_000_000 + 0.5) / 1_000_000

        # N = orders PRESENT in the data: a basket that picked nothing
        # has no lineitem row, so neither engine can (or should) count
        # it — the replica counting empties was a latent flake that
        # only tripped when hypothesis generated an all-empty pick
        n = sum(1 for b in baskets.values() if b)
        cnt = {it: sum(1 for b in baskets.values() if it in b) for it in items}
        co = {}
        for b in baskets.values():
            for u in b:
                for v in b:
                    if u < v:
                        co[(u, v)] = co.get((u, v), 0) + 1
        rules = []
        for (u, v), c in co.items():
            if c < 2:
                continue
            for a, b in ((u, v), (v, u)):
                rules.append(
                    (
                        -d6(c * n / (cnt[a] * cnt[b])), a, b,
                        (a, b, c, d6(c / n), d6(c / cnt[a]),
                         d6(c * n / (cnt[a] * cnt[b]))),
                    )
                )
        want = [r[3] for r in sorted(rules)[:20]]
        got = [tuple(r) for r in basket_association_rules(spark, d).collect()]
        assert got == want

    prop()


def test_stress_and_rules_tolerate_empty_graph(spark, tmp_path):
    """Schema-only lineitem: both new basket surfaces return empty
    frames instead of raising (the degenerate-input convention the
    registry-wide hardening test pins for the older queries)."""
    spark.createDataFrame([], "l_orderkey long, l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    from degdb_spark.queries.graph_adv_queries import (
        basket_association_rules,
        basket_stress_centrality,
    )

    assert basket_association_rules(spark, str(tmp_path)).collect() == []
    assert basket_stress_centrality(spark, str(tmp_path)).collect() == []


def test_basket_edges_index_matches_inline(spark, tmp_path):
    """The basket-edge contract index (operators/basket.py) serves the
    EXACT inline _weighted_edges frame, read from the index alone (the
    source lineitem is deleted before the read), and its unthresholded
    pair view is the distinct co-purchase pair set."""
    import shutil

    from degdb_spark.operators import basket as B
    from degdb_spark.operators.pq import drop_managed_table
    from degdb_spark.queries.graph_adv_queries import _weighted_edges_inline

    rows = [
        (o, p)
        for o in range(25)
        for p in {o % 7, (o + 1) % 7, 50 + o % 3, 50 + (o + o // 5) % 3}
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    inline_dir = tmp_path / "inline"
    inline_dir.mkdir()
    li.write.parquet(str(inline_dir / "lineitem.parquet"))
    want = {
        (r.src, r.dst, r.w)
        for r in _weighted_edges_inline(spark, str(inline_dir)).collect()
    }

    source = str(tmp_path / "li.parquet")
    li.write.parquet(source)
    table = "test_basket_edges_eq"
    drop_managed_table(spark, table)
    try:
        B.build_basket_edges_index(spark.read.parquet(source), table)
        shutil.rmtree(source)  # served edges must not need lineitem
        got = {(r.src, r.dst, r.w) for r in B.edges_from_index(spark, table).collect()}
        assert got == want
        # the UNTHRESHOLDED pair view (min_w=1) equals the distinct
        # co-purchase pair set — one artifact serves both the analytics
        # graph and coverage's edge set
        pairs = {
            (r.u, r.v) for r in B.pairs_from_index(spark, table, min_w=1).collect()
        }
        want_pairs = {
            (min(a, b), max(a, b))
            for (o1, a) in rows
            for (o2, b) in rows
            if o1 == o2 and a != b
        }
        assert pairs == want_pairs
    finally:
        drop_managed_table(spark, table)
