"""Tests for PageRank (operators/graph.py)."""

from __future__ import annotations

import pytest

from mr_dice_spark.operators.graph import pagerank


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_pagerank_symmetric_graphs_stay_uniform(spark):
    """On a vertex-transitive graph (triangle) the uniform distribution
    is stationary: every sweep returns exactly 1/N."""
    r = _ranks(spark, [(1, 2), (2, 3), (3, 1)])
    assert all(abs(v - 1 / 3) < 1e-12 for v in r.values())


def test_pagerank_mass_conserved_and_hub_wins(spark):
    """Undirected star: ranks sum to 1 (no dangling mass) and the hub
    out-ranks every leaf."""
    r = _ranks(spark, [(0, i) for i in range(1, 6)])
    assert abs(sum(r.values()) - 1.0) < 1e-9
    assert all(r[0] > r[i] for i in range(1, 6))
    # leaves are symmetric
    assert len({round(r[i], 12) for i in range(1, 6)}) == 1


def test_pagerank_directed_source_holds_teleport_only(spark):
    """Directed chain 1->2->3: node 1 has no in-edges, so after any
    sweep its rank is exactly the teleport term (1-d)/N."""
    r = _ranks(spark, [(1, 2), (2, 3)], undirected=False, n_iter=3)
    assert abs(r[1] - 0.15 / 3) < 1e-12
    assert r[3] > r[2] > r[1]


def test_pagerank_zero_iter_is_uniform_and_validation(spark):
    r = _ranks(spark, [(1, 2)], n_iter=0)
    assert r == {1: 0.5, 2: 0.5}
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(df, n_iter=-1)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)


def test_pagerank_empty_edges_schema_matches(spark):
    """Zero-row edge lists return an empty frame whose node type matches
    the edge column (code-review r4) — a union with a previous snapshot
    must not break only on the empty day."""
    df = spark.createDataFrame([], "src long, dst long")
    out = pagerank(df)
    assert out.count() == 0
    assert dict(out.dtypes) == {"node": "bigint", "rank": "double"}


def test_triangle_counts_known_graph(spark):
    from mr_dice_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5-1 (0)
    # + duplicate/reversed/self-loop edges that must not change counts
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (5, 1), (2, 1), (3, 1), (4, 4),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}


def test_triangle_counts_triangle_free(spark):
    from mr_dice_spark.operators.graph import triangle_counts

    # bipartite (4-cycle) -> all zeros
    df = spark.createDataFrame(
        [(1, 10), (10, 2), (2, 20), (20, 1)], "src long, dst long"
    )
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 0, 2: 0, 10: 0, 20: 0}


def test_triangle_counts_matches_bruteforce_dense(spark):
    """Cross-check the adjacency-intersection rewrite (r11 optimization:
    wedge self-join + closing join -> N+(u) ∩ N+(v) per oriented edge)
    against a per-node brute force on a deterministic pseudo-random
    graph dense enough to exercise hubs, shared wedges, and zero-triangle
    satellites."""
    from itertools import combinations

    from mr_dice_spark.operators.graph import triangle_counts

    nodes = list(range(30))
    edges = [
        (a, b)
        for a, b in combinations(nodes, 2)
        if (a * 7919 + b * 104729) % 5 == 0
    ]
    # brute force: count triangles per node over the undirected simple graph
    nbrs = {n: set() for n in nodes}
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    expected = {
        n: sum(1 for x, y in combinations(sorted(nbrs[n]), 2) if y in nbrs[x])
        for n in nodes
        if nbrs[n]
    }
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == expected


def test_triangle_counts_plan_no_cartesian(spark):
    from mr_dice_spark.operators.graph import triangle_counts

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    plan = triangle_counts(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_k_core_peels_tail(spark):
    from mr_dice_spark.operators.graph import k_core

    # triangle {1,2,3} with a pendant chain 3-4-5: the 2-core is the
    # triangle; the chain peels over two rounds (5 first, then 4)
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["degree"] for r in k_core(df, k=2, n_iter=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # k=1 with zero iterations returns the full (undirected) degree table
    all_deg = {r["node"]: r["degree"] for r in k_core(df, k=1, n_iter=0).collect()}
    assert all_deg == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}


def test_k_core_fixed_rounds_are_idempotent_after_convergence(spark):
    from mr_dice_spark.operators.graph import k_core

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    a = sorted((r["node"], r["degree"]) for r in k_core(df, k=2, n_iter=3).collect())
    b = sorted((r["node"], r["degree"]) for r in k_core(df, k=2, n_iter=6).collect())
    assert a == b  # overshooting rounds changes nothing


def test_k_core_validates_args(spark):
    import pytest

    from mr_dice_spark.operators.graph import k_core

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        k_core(df, k=0)
    with pytest.raises(ValueError):
        k_core(df, k=2, n_iter=-1)


def test_label_propagation_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: LPA must settle each
    clique on its minimum node id; the bridge endpoints stay with their
    own (denser) clique because 3 in-clique votes beat 1 bridge vote."""
    from mr_dice_spark.operators.graph import label_propagation

    import itertools

    c1 = list(itertools.combinations([1, 2, 3, 4], 2))
    c2 = list(itertools.combinations([10, 11, 12, 13], 2))
    edges = c1 + c2 + [(4, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["community"] for r in label_propagation(df, n_iter=4).collect()}
    assert {got[n] for n in (1, 2, 3, 4)} == {1}
    assert {got[n] for n in (10, 11, 12, 13)} == {10}


def test_label_propagation_matches_python_reference(spark):
    """Synchronous min-label-tiebreak LPA vs a direct Python
    re-implementation on a random graph — sweep-for-sweep parity."""
    import random

    from mr_dice_spark.operators.graph import label_propagation

    rng = random.Random(5)
    nodes = list(range(30))
    edges = {(a, b) for _ in range(60)
             for a, b in [sorted(rng.sample(nodes, 2))]}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lbl = {n: n for n in adj}
    for _ in range(4):
        new = {}
        for n, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for m in nbrs:
                cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        lbl = new
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r["node"]: r["community"] for r in label_propagation(df, n_iter=4).collect()}
    assert got == lbl


def test_label_propagation_mode_tiebreak_smallest_label(spark):
    """The r12 fused ``mode(lbl, deterministic=true)`` winner pick must
    break equal-count votes toward the SMALLEST label, exactly like the
    r11 max_by(lbl, (count, -lbl)) pair it replaced. Node 100 sees two
    neighbors labeled 1 and two labeled 2 after sweep 0 — it must take 1."""
    from mr_dice_spark.operators.graph import label_propagation

    # 1-2 and 3-4 are pairs (each settles on its min id in sweep 0 is NOT
    # guaranteed — so pin votes via self-labels: after 0 sweeps labels are
    # node ids; run exactly 1 sweep so node 100's neighbors vote their own
    # ids: {1, 2, 3, 3} -> 3 wins outright; {1, 2} alone would tie -> 1.
    df = spark.createDataFrame(
        [(100, 1), (100, 2)], "src long, dst long"
    )
    got = {r["node"]: r["community"]
           for r in label_propagation(df, n_iter=1).collect()}
    # node 100's votes: {1: 1, 2: 1} — tie, smallest label wins
    assert got[100] == 1


def test_label_propagation_checkpoint_cadence_long_run(spark):
    """n_iter=9 crosses two _SWEEP_CKPT_EVERY=4 boundaries (checkpoints
    after sweeps 4 and 8, none after the last) — sweep-for-sweep parity
    with the Python reference must hold across the cadence."""
    import random

    from mr_dice_spark.operators.graph import label_propagation

    rng = random.Random(12)
    nodes = list(range(24))
    edges = {(a, b) for _ in range(50)
             for a, b in [sorted(rng.sample(nodes, 2))]}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lbl = {n: n for n in adj}
    for _ in range(9):
        new = {}
        for n, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for m in nbrs:
                cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        lbl = new
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r["node"]: r["community"]
           for r in label_propagation(df, n_iter=9).collect()}
    assert got == lbl


def test_label_propagation_validates_and_zero_iter(spark):
    import pytest

    from mr_dice_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="n_iter"):
        label_propagation(df, n_iter=-1)
    got = {r["node"]: r["community"] for r in label_propagation(df, n_iter=0).collect()}
    assert got == {1: 1, 2: 2}


def test_modularity_two_triangles_bridge_by_hand(spark):
    """Two triangles joined by one bridge: q_term = 3/7 - (7/14)^2 =
    5/28 per community, conductance 1/7; a whole-graph community has
    q_term 0 and NULL conductance (no outside); duplicate and reversed
    edges collapse before any term."""
    from pyspark.sql import functions as F

    from mr_dice_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4), (2, 1), (3, 3)],
        "src long, dst long",
    )
    comm = spark.createDataFrame(
        [(i, 1 if i <= 3 else 4) for i in range(1, 7)], "node long, community long"
    )
    got = {r["community"]: r for r in modularity(edges, comm).collect()}
    for c in (1, 4):
        r = got[c]
        assert r["n_nodes"] == 3 and r["internal_edges"] == 3
        assert r["degree_sum"] == 7
        assert abs(r["q_term"] - 5 / 28) < 1e-6
        assert abs(r["conductance"] - 1 / 7) < 1e-6
    # global Q = sum of terms
    assert abs(sum(r["q_term"] for r in got.values()) - 5 / 14) < 1e-5
    whole = spark.createDataFrame(
        [(i, 0) for i in range(1, 7)], "node long, community long"
    )
    [w] = modularity(edges, whole).collect()
    assert w["q_term"] == 0.0 and w["conductance"] is None
    assert w["internal_edges"] == 7 and w["degree_sum"] == 14
    # a node missing from the assignment drops from every term
    part = comm.where(F.col("node") != 6)
    got2 = {r["community"]: r for r in modularity(edges, part).collect()}
    assert got2[4]["n_nodes"] == 2 and got2[4]["internal_edges"] == 1


def test_adamic_adar_hand_graph_normalization_and_breaker(spark):
    """Square a-b-c-d-a: the two diagonals are the only distance-2
    non-edges, each with two degree-2 common neighbors => score 2/ln(2);
    reversed/duplicate/self-loop inputs normalize away; the default-on
    hub breaker fires on a star."""
    import math

    import pytest

    from mr_dice_spark.operators.graph import adamic_adar_scores

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 1), (1, 1), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node_a"], r["node_b"]): r
        for r in adamic_adar_scores(df).collect()
    }
    assert set(got) == {(1, 3), (2, 4)}
    for r in got.values():
        assert r["n_common"] == 2
        assert abs(r["score"] - 2 / math.log(2)) < 1e-6
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 30)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="max_center_degree"):
        adamic_adar_scores(star, max_center_degree=10)
    # opt-out on the same star: all leaf pairs share the hub (deg 29)
    leaf_pairs = adamic_adar_scores(star, max_center_degree=None).collect()
    assert len(leaf_pairs) == 29 * 28 // 2
    assert all(abs(r["score"] - 1 / math.log(29)) < 1e-6 for r in leaf_pairs)


def test_degree_assortativity_star_is_minus_one(spark):
    # K_{1,3}: every edge joins the hub (deg 3) to a leaf (deg 1) ->
    # perfectly disassortative, r = -1
    from mr_dice_spark.operators.graph import degree_assortativity

    df = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "src long, dst long")
    [r] = degree_assortativity(df).collect()
    assert (r["n_nodes"], r["n_edges"], r["m_stubs"]) == (4, 3, 6)
    assert r["r"] == pytest.approx(-1.0, abs=1e-6)


def test_degree_assortativity_hand_value_and_normalization(spark):
    # edges 1-2,1-3,2-3,3-4 (degs 2,2,3,1): stub moments M=8, Sj=18,
    # Sjk=38, Sj2=44 -> r = (8*38-324)/(8*44-324) = -20/28; duplicate
    # reversed edges and a self-loop must not change anything
    from mr_dice_spark.operators.graph import degree_assortativity

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (2, 1), (3, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    [r] = degree_assortativity(df).collect()
    assert (r["n_nodes"], r["n_edges"], r["m_stubs"]) == (4, 4, 8)
    assert r["r"] == pytest.approx(-20.0 / 28.0, abs=1e-6)


def test_degree_assortativity_regular_graph_null(spark):
    # triangle: every degree 2 -> zero degree variance -> NULL r
    from mr_dice_spark.operators.graph import degree_assortativity

    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    [r] = degree_assortativity(df).collect()
    assert r["r"] is None


def test_clustering_coefficients_hand_values(spark):
    # K4 minus edge 3-4, plus pendant 4-5: triangles {1,2,3},{1,2,4};
    # degrees 1:3 2:3 3:2 4:3 5:1 -> lcc 1,2: 2*2/6; 3: 1.0; 4: 2*1/6;
    # 5: NULL (degree-1 node has no possible wedge)
    from mr_dice_spark.operators.graph import clustering_coefficients

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r for r in clustering_coefficients(df).collect()}
    assert {n: r["triangles"] for n, r in got.items()} == {
        1: 2, 2: 2, 3: 1, 4: 1, 5: 0
    }
    assert got[1]["lcc"] == pytest.approx(2 / 3, abs=1e-6)
    assert got[3]["lcc"] == pytest.approx(1.0, abs=1e-6)
    assert got[4]["lcc"] == pytest.approx(1 / 3, abs=1e-6)
    assert got[5]["lcc"] is None and got[5]["degree"] == 1


@pytest.mark.parametrize(
    "op",
    ["pagerank", "triangle_counts", "label_propagation", "k_core", "connected_components"],
)
def test_above_ceiling_path_matches_broadcast_path(spark, monkeypatch, op):
    """With the broadcast ceiling at 0 every node-sized join side takes the
    shuffle_hash path (LPA also its pin-labels + exact-count branch,
    triangle counting its orientation pin); the rows must equal the
    default broadcast path's (PageRank floats compared at 12 places)."""
    import random

    from mr_dice_spark.operators import components, graph

    fn = getattr(components if op == "connected_components" else graph, op)
    rng = random.Random(11)
    edges = sorted({tuple(rng.sample(range(30), 2)) for _ in range(60)})
    df = spark.createDataFrame(edges, "src long, dst long")

    def rows():
        return sorted(
            tuple(round(v, 12) if isinstance(v, float) else v for v in r)
            for r in fn(df, "src", "dst").collect()
        )

    default = rows()
    monkeypatch.setattr(graph, "_BCAST_MAX_ROWS", 0)
    assert rows() == default
    assert len(default) > 0
