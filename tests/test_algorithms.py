"""Graph-analytics kernels (Pregel-style DataFrame iteration,
ekati_spark/graph/algorithms.py) on hand-built toy graphs with
closed-form expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ekati_spark.graph.algorithms import (
    connected_components,
    page_rank,
    shortest_hops,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(s, "e", d, 0) for s, d in pairs],
        "src string, label string, dst string, ts long",
    )


def test_pagerank_star(spark):
    """Star a,b,c -> hub: hub collects damped rank; leaves keep base."""
    e = _edges(spark, [("a", "hub"), ("b", "hub"), ("c", "hub")])
    pr = {r.node_id: r.rank for r in page_rank(e, iterations=1).collect()}
    n = 4
    base = 0.15 / n
    assert pr["a"] == pytest.approx(base)
    assert pr["hub"] == pytest.approx(base + 0.85 * 3 * (1 / n))
    # total mass = 1 minus the leak from the dangling hub
    assert sum(pr.values()) == pytest.approx(base * 4 + 0.85 * 3 / n)


def test_pagerank_cycle_uniform(spark):
    """On a cycle every node keeps exactly 1/n at every iteration."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    pr = {r.node_id: r.rank for r in page_rank(e, iterations=4).collect()}
    for v in pr.values():
        assert v == pytest.approx(1 / 3)


def test_connected_components_two_islands(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    cc = {r.node_id: r.component for r in connected_components(e).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_chain_converges(spark):
    """A 6-node chain needs several propagation rounds; early-exit on
    convergence must still reach the global min label."""
    chain = [(f"n{i}", f"n{i+1}") for i in range(5)]
    e = _edges(spark, chain)
    cc = {r.node_id: r.component for r in connected_components(e).collect()}
    assert set(cc.values()) == {"n0"}


def test_connected_components_exact_budget_confirms(spark):
    """Diameter exactly consuming the budget is CONVERGED, not an
    error: a 5-node path needs 4 supersteps (labels still change on
    pass 4); require_converged must spend one confirming pass instead
    of raising on a correct result (round-13 advice). One superstep
    short must still raise."""
    chain = [(f"n{i}", f"n{i+1}") for i in range(4)]
    e = _edges(spark, chain)
    cc = {
        r.node_id: r.component
        for r in connected_components(e, max_iter=4).collect()
    }
    assert set(cc.values()) == {"n0"}
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(e, max_iter=3).collect()


# Simultaneous 4-truss peel of this graph drops edges on three rounds
# before its fixpoint, the empty truss (found by simulating the peel).
_TRUSS_PEEL_DEPTH_3 = [
    (0, 2), (0, 3), (0, 4), (0, 5), (1, 2), (1, 3),
    (1, 5), (2, 4), (2, 5), (3, 4), (3, 5),
]


def _arrivals_on_path(spark, n_edges, max_rounds):
    """Path 0 -> 1 -> ... whose edge i -> i+1 fires at t = i + 1, so
    each round reaches exactly one more node."""
    from ekati_spark.graph.algorithms import earliest_arrival

    edges = spark.createDataFrame(
        [(i, i + 1, i + 1) for i in range(n_edges)],
        "src long, dst long, t int",
    )
    seeds = spark.createDataFrame([(0, 0)], "node_id long, t0 int")
    return earliest_arrival(edges, seeds, max_rounds=max_rounds)


def _truss_peel(spark, max_iter):
    from ekati_spark.graph.algorithms import k_truss

    e = spark.createDataFrame(_TRUSS_PEEL_DEPTH_3, "u long, v long")
    return k_truss(e, k=4, max_iter=max_iter)


@pytest.mark.parametrize(
    "run, want_rows",
    [
        pytest.param(
            lambda s: _arrivals_on_path(s, 5, max_rounds=4), None,
            id="earliest_arrival-path-one-edge-over",
        ),
        pytest.param(
            lambda s: _arrivals_on_path(s, 4, max_rounds=4), 5,
            id="earliest_arrival-path-exact-budget",
        ),
        pytest.param(
            lambda s: _truss_peel(s, max_iter=2), None,
            id="k_truss-peel-deeper-than-budget",
        ),
        pytest.param(
            lambda s: _truss_peel(s, max_iter=3), 0,
            id="k_truss-peel-exact-budget",
        ),
    ],
)
def test_fixpoint_budget_raises_only_when_exhausted(spark, run, want_rows):
    """Fixpoint kernels must not return a partial result when their
    round budget runs out: one spare superstep confirms a fixpoint that
    lands exactly on the budget, and a run still changing after it
    raises (the rule ``test_connected_components_exact_budget_confirms``
    pins for CC)."""
    if want_rows is None:
        with pytest.raises(RuntimeError, match="still changing"):
            run(spark)
    else:
        assert run(spark).count() == want_rows


def test_shortest_hops_min_over_paths(spark):
    """d is reachable in 1 (a->d) and in 2 (a->b->d): BFS must report 1."""
    e = _edges(spark, [("a", "b"), ("b", "d"), ("a", "d"), ("d", "z")])
    seeds = spark.createDataFrame([("a",)], "node_id string")
    hops = {r.node_id: r.hops for r in shortest_hops(e, seeds, 3).collect()}
    assert hops == {"a": 0, "b": 1, "d": 1, "z": 2}


def test_shortest_hops_frontier_exhaustion(spark):
    """Loop exits when the frontier empties before max_hops."""
    e = _edges(spark, [("a", "b")])
    seeds = spark.createDataFrame([("a",)], "node_id string")
    hops = {r.node_id: r.hops for r in shortest_hops(e, seeds, 10).collect()}
    assert hops == {"a": 0, "b": 1}


# -- motif / triangles (graph/motif.py) -------------------------------------


def test_motif_two_hop_pattern(spark):
    from ekati_spark.graph.motif import find

    e = spark.createDataFrame(
        [("a", "knows", "b", 0), ("b", "likes", "c", 0), ("b", "knows", "d", 0)],
        "src string, label string, dst string, ts long",
    )
    rows = find(e, "(x)-[knows]->(y); (y)-[likes]->(z)").collect()
    assert [(r.x, r.y, r.z) for r in rows] == [("a", "b", "c")]
    # any-label atom
    rows2 = find(e, "(x)-[]->(y); (y)-[]->(z)").collect()
    assert {(r.x, r.y, r.z) for r in rows2} == {("a", "b", "c"), ("a", "b", "d")}


def test_motif_shared_var_cycle(spark):
    from ekati_spark.graph.motif import find

    e = spark.createDataFrame(
        [("a", "e", "b", 0), ("b", "e", "a", 0), ("b", "e", "c", 0)],
        "src string, label string, dst string, ts long",
    )
    back = find(e, "(x)-[e]->(y); (y)-[e]->(x)").collect()
    assert {(r.x, r.y) for r in back} == {("a", "b"), ("b", "a")}


def test_motif_bad_pattern_raises(spark):
    from ekati_spark.graph.motif import find

    e = spark.createDataFrame([], "src string, label string, dst string, ts long")
    with pytest.raises(ValueError):
        find(e, "(a)->[x]-(b)")


def test_triangle_count_known_graph(spark):
    from ekati_spark.graph.motif import triangle_count

    # K4 has 4 triangles; direction/duplication must not matter
    edges = [
        ("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"), ("c", "d"),
    ]
    e = spark.createDataFrame(
        [(s, "e", d, 0) for s, d in edges],
        "src string, label string, dst string, ts long",
    )
    assert triangle_count(e).collect()[0].n_triangles == 4


def test_star_cc_matches_propagation(spark):
    """small-star/large-star CC equals min-label propagation on a mixed
    graph (two islands, one with a cycle)."""
    from ekati_spark.graph.algorithms import connected_components_star

    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("q", "q2")],
    )
    star = {r.node_id: r.component for r in connected_components_star(e).collect()}
    prop = {r.node_id: r.component for r in connected_components(e).collect()}
    assert star == prop


def test_star_cc_long_chain(spark):
    """A 24-node chain (diameter 23): star-contraction must converge well
    under the default iteration cap and find one component."""
    from ekati_spark.graph.algorithms import connected_components_star

    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(23)]
    e = _edges(spark, chain)
    cc = {r.node_id: r.component for r in connected_components_star(e).collect()}
    assert set(cc.values()) == {"n00"}
    assert len(cc) == 24


def test_personalized_pagerank_locality(spark):
    """PPR mass concentrates near the source: on two disconnected pairs,
    the non-source island gets exactly zero."""
    from ekati_spark.graph.algorithms import personalized_page_rank

    e = _edges(spark, [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")])
    seeds = spark.createDataFrame([("a",)], "node_id string")
    pr = {
        r.node_id: r.rank
        for r in personalized_page_rank(e, seeds, iterations=4).collect()
    }
    assert pr["x"] == 0.0 and pr["y"] == 0.0
    assert pr["a"] > pr["b"] > 0
    # conservation: total mass stays 1 on a dangling-free subgraph
    assert abs(pr["a"] + pr["b"] - 1.0) < 1e-9


def test_k_core_known_graph(spark):
    """Triangle a-b-c (2-core) plus pendant chain d-e hanging off a:
    the 2-core is exactly the triangle; the 1-core is everything."""
    from ekati_spark.graph.algorithms import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "e")],
        "src string, dst string",
    )
    core2 = {r.node_id: r.degree for r in k_core(edges, 2).collect()}
    assert core2 == {"a": 2, "b": 2, "c": 2}
    core1 = {r.node_id for r in k_core(edges, 1).collect()}
    assert core1 == {"a", "b", "c", "d", "e"}
    assert k_core(edges, 3).count() == 0


def test_k_core_deep_peel_path_graph(spark):
    """A 60-node path peels two endpoints per round (~30 rounds): the
    fixpoint loop must keep going, and the 2-core of a path is empty."""
    from ekati_spark.graph.algorithms import k_core

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(59)], "src string, dst string"
    )
    assert k_core(edges, 2).count() == 0


def test_label_propagation_two_triangles(spark):
    """Two disjoint triangles each converge to their min node label
    within 3 synchronous supersteps."""
    from ekati_spark.graph.algorithms import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    got = {r.node_id: r.community
           for r in label_propagation(edges, iterations=3).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "x", "y": "x", "z": "x"}


def test_weighted_shortest_paths_small_graph(spark):
    """Cheaper 2-hop route must beat the direct expensive edge, and the
    hop bound must exclude longer paths."""
    from ekati_spark.graph.algorithms import weighted_shortest_paths

    edges = spark.createDataFrame(
        [
            ("a", "b", 10),
            ("a", "c", 1),
            ("c", "b", 2),
            ("b", "d", 1),
            ("d", "e", 1),
        ],
        "src string, dst string, cost long",
    )
    seeds = spark.createDataFrame([("a",)], "node_id string")
    got = {
        r.node_id: r.cost
        for r in weighted_shortest_paths(edges, seeds, max_hops=3).collect()
    }
    # a->c->b (3) beats a->b (10); d via a->c->b->d (4) beats a->b->d
    # (11); e only via the expensive direct edge within 3 hops (12) —
    # the cheap route a->c->b->d->e needs 4.
    assert got == {"a": 0, "c": 1, "b": 3, "d": 4, "e": 12}

    got2 = {
        r.node_id: r.cost
        for r in weighted_shortest_paths(edges, seeds, max_hops=1).collect()
    }
    assert got2 == {"a": 0, "b": 10, "c": 1}


def test_link_prediction_ra_planted_path(spark):
    """Path graph a-b-c-d: the only candidate pairs are (a,c),(b,d)
    via middle nodes of degree 2, and (a,d) has no common neighbor.
    RA = 1/2 => ra_nano = 500_000_000; existing edges excluded."""
    import ekati_spark.queries as Q

    # Build the substrate the query derives: orders/lineitem rows whose
    # co-purchase projection (>= 4 shared parts) is exactly a-b-c-d.
    # Each adjacent customer pair shares parts {edge*10 .. edge*10+3}.
    orders, items = [], []
    ok = 0
    for edge, (u, v) in enumerate([(1, 2), (2, 3), (3, 4)]):
        for part in range(edge * 10, edge * 10 + 4):
            for cust in (u, v):
                ok += 1
                orders.append((ok, cust))
                items.append((ok, part))
    odf = spark.createDataFrame(orders, ["o_orderkey", "o_custkey"])
    ldf = spark.createDataFrame(items, ["l_orderkey", "l_partkey"])
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        odf.write.parquet(f"{d}/orders.parquet")
        ldf.write.parquet(f"{d}/lineitem.parquet")
        got = {
            (r.cust_a, r.cust_b): (r.common_neighbors, r.ra_nano)
            for r in Q.REGISTRY["g30_link_prediction"].fn(spark, d).collect()
        }
    assert got == {(1, 3): (1, 500_000_000), (2, 4): (1, 500_000_000)}


def test_link_prediction_topk_avoids_global_sort(spark, sf_dir):
    import ekati_spark.queries as Q

    df = Q.REGISTRY["g30_link_prediction"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_nation_modularity_two_cliques(spark):
    """Two 3-cliques with distinct nations and no cross edges: m=6,
    e_intra=6, all degrees 2 => d_sq=72, Q=(4*6*6-72)/(4*36)=0.5."""
    import tempfile

    import ekati_spark.queries as Q

    orders, items, cust = [], [], []
    ok = 0
    part = 0
    for nation, members in ((0, (1, 2, 3)), (1, (4, 5, 6))):
        for c in members:
            cust.append((c, nation))
        for i in members:
            for j in members:
                if i < j:
                    for _ in range(4):  # 4 shared parts per pair
                        part += 1
                        for c in (i, j):
                            ok += 1
                            orders.append((ok, c))
                            items.append((ok, part))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(orders, ["o_orderkey", "o_custkey"]).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame(items, ["l_orderkey", "l_partkey"]).write.parquet(f"{d}/lineitem.parquet")
        spark.createDataFrame(cust, ["c_custkey", "c_nationkey"]).write.parquet(f"{d}/customer.parquet")
        row = Q.REGISTRY["g31_nation_modularity"].fn(spark, d).collect()[0]
    assert (row.m, row.e_intra, row.d_sq) == (6, 6, 72)
    assert row.modularity == 0.5


def test_boruvka_msf_known_graph(spark):
    """Borůvka on a hand-checked graph: two components, known unique
    MSF (distinct weights). Component A: path 1-2-3 with a heavy
    triangle edge that must be EXCLUDED; component B: single edge.

    Max-spanning on weights: A edges (1,2,w=50) (2,3,w=40) (1,3,w=10)
    -> MSF keeps (1,2) and (2,3), drops (1,3) (it would close a
    cycle and is the lightest). B: (7,8,w=5)."""
    from ekati_spark.graph.algorithms import boruvka_msf

    edges = spark.createDataFrame(
        [(1, 2, 50), (2, 3, 40), (1, 3, 10), (7, 8, 5)],
        "u int, v int, wkey long",
    )
    msf, comp = boruvka_msf(edges)
    got = {(r.u, r.v) for r in msf.collect()}
    assert got == {(1, 2), (2, 3), (7, 8)}, got
    labels = {r.node: r.comp for r in comp.collect()}
    assert labels[1] == labels[2] == labels[3]
    assert labels[7] == labels[8]
    assert labels[1] != labels[7]


def test_boruvka_msf_mutual_pair_tiebreak(spark):
    """The 2-cycle break: two components whose best edges point at
    each other must contract into one component rooted at the smaller
    id, with the shared edge emitted exactly once."""
    from ekati_spark.graph.algorithms import boruvka_msf

    edges = spark.createDataFrame(
        [(10, 20, 100)], "u int, v int, wkey long"
    )
    msf, comp = boruvka_msf(edges)
    assert [(r.u, r.v) for r in msf.collect()] == [(10, 20)]
    labels = {r.node: r.comp for r in comp.collect()}
    assert labels[10] == labels[20] == 10
