"""Golden tests on a planted graph (FIXTURES.md §6: two cliques
bridged by one high-betweenness edge), mirroring the reference's A4
semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_mining_map_reduce_spark.operators import graph as G

CLIQUE_A = [1, 2, 3, 4]
CLIQUE_B = [5, 6, 7, 8]


@pytest.fixture(scope="module")
def planted_edges(module_spark):
    edges = []
    for clique in (CLIQUE_A, CLIQUE_B):
        edges += [(a, b) for a in clique for b in clique if a < b]
    edges.append((4, 5))  # bridge
    return module_spark.createDataFrame(edges, "src int, dst int").cache()


def test_connected_components_single(spark, planted_edges):
    cc = G.connected_components(planted_edges)
    comps = {r.component for r in cc.collect()}
    assert comps == {1}  # all reachable from min id 1


def test_connected_components_split(spark, planted_edges):
    no_bridge = planted_edges.where(~((F.col("src") == 4) & (F.col("dst") == 5)))
    cc = G.connected_components(no_bridge)
    got = {r.id: r.component for r in cc.collect()}
    assert all(got[v] == 1 for v in CLIQUE_A)
    assert all(got[v] == 5 for v in CLIQUE_B)


def test_bridge_has_max_betweenness(spark, planted_edges):
    bt = G.edge_betweenness(planted_edges).collect()
    top = max(bt, key=lambda r: r.betweenness)
    assert (top.src, top.dst) == (4, 5)
    # all 4x4 cross-clique shortest paths cross the bridge
    assert top.betweenness == pytest.approx(16.0)


def test_girvan_newman_recovers_cliques(spark, planted_edges):
    assign, q = G.girvan_newman(planted_edges, max_removals=3)
    got = {r.id: r.community for r in assign.collect()}
    assert len({got[v] for v in CLIQUE_A}) == 1
    assert len({got[v] for v in CLIQUE_B}) == 1
    assert got[1] != got[5]
    assert q > 0.3  # clean 2-community split has high modularity


def test_modularity_hand_value(spark, planted_edges):
    # Perfect split: m=13, e_c=6 each, d_c = 13 each (12 intra-degree
    # + 1 bridge endpoint per side) => Q = 2*(6/13 - (13/26)^2) = 0.4231
    assign = planted_edges.sparkSession.createDataFrame(
        [(v, 1) for v in CLIQUE_A] + [(v, 5) for v in CLIQUE_B],
        "id int, community int",
    )
    q = G.modularity(planted_edges, assign)
    assert q == pytest.approx(2 * (6 / 13 - (13 / 26) ** 2), abs=1e-9)


def test_lpa_deterministic(spark, planted_edges):
    a = sorted(map(tuple, G.label_propagation(planted_edges, 5).collect()))
    b = sorted(map(tuple, G.label_propagation(planted_edges, 5).collect()))
    assert a == b


def test_lpa_recovers_planted_communities(spark):
    """Two 5-cliques joined by a single bridge: LPA must converge to
    one label per clique, different across cliques."""
    big_a = [1, 2, 3, 4, 9]
    big_b = [5, 6, 7, 8, 10]
    edges = []
    for clique in (big_a, big_b):
        edges += [(a, b) for a in clique for b in clique if a < b]
    edges.append((4, 5))
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r.id: r.label for r in G.label_propagation(df, max_iter=5).collect()}
    assert len({got[v] for v in big_a}) == 1
    assert len({got[v] for v in big_b}) == 1
    assert got[1] != got[6]


def test_cc_local_fast_path_matches_distributed(spark):
    """The bounded driver union-find (local_cap fast path) must be
    row-identical to the distributed min-label loop on a seeded
    random graph with many components plus both planted shapes."""
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src int, dst int")
    fast = sorted(map(tuple, G.connected_components(df).collect()))
    slow = sorted(map(tuple, G.connected_components(df, local_cap=0).collect()))
    assert fast == slow
    assert len(fast) > 0


def test_cc_local_fast_path_matches_distributed_planted(spark, planted_edges):
    fast = sorted(map(tuple, G.connected_components(planted_edges).collect()))
    slow = sorted(
        map(tuple, G.connected_components(planted_edges, local_cap=0).collect())
    )
    assert fast == slow


def test_girvan_newman_keeps_isolated_vertex_as_singleton(spark):
    """Leaf-edge golden (r6 verdict item 3): a vertex isolated by an
    edge removal must stay in the assignment as its own singleton
    community AND contribute its -(d/2m)^2 modularity term — the
    reference's BFS flood fill keeps every vertex as an
    adjacency-dict key (Assignment4/task2.py:123-146). A 4-leaf star
    forces it: every edge ties at betweenness 4, the (1,2) tie-break
    wins, and removing it isolates leaf 2 on the very first (hence
    best-tracked) removal."""
    star = [(1, leaf) for leaf in (2, 3, 4, 5)]
    df = spark.createDataFrame(star, "src int, dst int")
    assign, q = G.girvan_newman(df, max_removals=1)
    got = {r.id: r.community for r in assign.collect()}
    assert set(got) == {1, 2, 3, 4, 5}, "no vertex may drop from the assignment"
    assert got[2] == 2, "isolated leaf becomes its own singleton community"
    assert got[1] == got[3] == got[4] == got[5]
    # hand value, singleton term included: m=4; {1,3,4,5}: e=3, d=7;
    # {2}: e=0, d=1  =>  Q = 3/4 - (7/8)^2 - (1/8)^2 = -1/32.
    # Dropping the singleton (the old bug) would read -1/64 instead.
    assert q == pytest.approx(-1 / 32, abs=1e-9)


def test_lpa_local_matches_distributed(spark, planted_edges):
    """Driver LPA fast path vs the distributed join+window rounds:
    identical labels on the planted graph and a seeded random graph
    (same votes, same smallest-label tie-break)."""
    import random

    a = sorted(map(tuple, G.label_propagation(planted_edges, 5).collect()))
    b = sorted(
        map(tuple, G.label_propagation(planted_edges, 5, local_cap=0).collect())
    )
    assert a == b
    rng = random.Random(23)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(90)]
    df = spark.createDataFrame(
        [(x, y) for x, y in edges if x != y], "src int, dst int"
    )
    a = sorted(map(tuple, G.label_propagation(df, 5).collect()))
    b = sorted(map(tuple, G.label_propagation(df, 5, local_cap=0).collect()))
    assert a == b


def test_betweenness_local_matches_batched(spark, planted_edges):
    """The driver Brandes fast path must reproduce the batched
    executor-side sweep (exact and sampled)."""
    loc = {
        (r.src, r.dst): r.betweenness
        for r in G.edge_betweenness(planted_edges).collect()
    }
    dist = {
        (r.src, r.dst): r.betweenness
        for r in G.edge_betweenness(planted_edges, local_cap=0).collect()
    }
    assert set(loc) == set(dist)
    for k in loc:
        assert loc[k] == pytest.approx(dist[k], rel=1e-9), k
    s_loc = {
        (r.src, r.dst): r.betweenness
        for r in G.edge_betweenness(planted_edges, n_roots=4, seed=3).collect()
    }
    s_dist = {
        (r.src, r.dst): r.betweenness
        for r in G.edge_betweenness(
            planted_edges, n_roots=4, seed=3, local_cap=0
        ).collect()
    }
    assert set(s_loc) == set(s_dist)
    for k in s_loc:
        assert s_loc[k] == pytest.approx(s_dist[k], rel=1e-9), k


def test_girvan_newman_local_matches_distributed(spark, planted_edges):
    """The bounded driver GN (local_cap path) and the distributed
    round loop implement the same rules — same removals, same
    communities, same best-Q — on the planted graph."""
    a_loc, q_loc = G.girvan_newman(planted_edges, max_removals=3)
    a_dist, q_dist = G.girvan_newman(planted_edges, max_removals=3, local_cap=0)
    assert sorted(map(tuple, a_loc.collect())) == sorted(
        map(tuple, a_dist.collect())
    )
    assert q_loc == pytest.approx(q_dist, abs=1e-9)


def test_girvan_newman_local_matches_distributed_star(spark):
    """Parity must also hold through an isolating removal."""
    df = spark.createDataFrame(
        [(1, leaf) for leaf in (2, 3, 4, 5)], "src int, dst int"
    )
    a_loc, q_loc = G.girvan_newman(df, max_removals=1)
    a_dist, q_dist = G.girvan_newman(df, max_removals=1, local_cap=0)
    assert sorted(map(tuple, a_loc.collect())) == sorted(
        map(tuple, a_dist.collect())
    )
    assert q_loc == pytest.approx(q_dist, abs=1e-9)


def test_adjacency_edit_chain_stays_bounded(spark, planted_edges):
    """The GN loop folds pending ``array_remove`` edits into a fresh
    checkpoint every 10 removals; the analyzed plan of the live
    adjacency must therefore stay ~the size of a 10-edit chain no
    matter how many total edits accumulated (30 here)."""
    base = G.grouped_adjacency(planted_edges).localCheckpoint(eager=True)
    edits = [(i % 8 + 1, (i + 3) % 8 + 1) for i in range(30)]

    def plan_size(df):
        return len(df._jdf.queryExecution().analyzed().toString())

    # un-rebased: all 30 edits stacked on one plan
    unbounded = plan_size(G._apply_adjacency_edits(base, edits))
    # GN's rebase discipline
    live, pending = base, []
    for e in edits:
        pending.append(e)
        if len(pending) >= 10:
            live = G._apply_adjacency_edits(live, pending).localCheckpoint(eager=True)
            pending = []
    bounded = plan_size(G._apply_adjacency_edits(live, pending))
    ten_chain = plan_size(G._apply_adjacency_edits(base, edits[:10]))
    assert bounded <= ten_chain * 1.2, (bounded, ten_chain)
    assert bounded < unbounded / 2, (bounded, unbounded)


def test_betweenness_fixed_roots_approximates(spark, planted_edges):
    """The r13 scale knob: a FIXED root count (k=4 of 8 vertices,
    V/k rescale) must keep the bridge dominant and near the exact
    16.0, on both the local and the batched executor path."""
    for cap in (500, 0):
        bt = G.edge_betweenness(
            planted_edges, n_roots=4, seed=3, local_cap=cap
        ).collect()
        top = max(bt, key=lambda r: r.betweenness)
        assert (top.src, top.dst) == (4, 5), cap
        assert 8.0 <= top.betweenness <= 32.0, cap


def test_betweenness_fixed_roots_ge_v_is_exact(spark, planted_edges):
    """k >= V must degrade to the exact sweep bit-for-bit (scale 1.0,
    all roots) — the contract the sf0.1 bench graph (37 vertices,
    k=192) relies on."""
    exact = {
        (r.src, r.dst): r.betweenness
        for r in G.edge_betweenness(planted_edges).collect()
    }
    capped = {
        (r.src, r.dst): r.betweenness
        for r in G.edge_betweenness(planted_edges, n_roots=100).collect()
    }
    assert exact == capped


def test_betweenness_rejects_degenerate_n_roots(spark, planted_edges):
    """n_roots=0 would divide by zero in the V/k rescale and a
    negative count would silently mis-limit — both must fail loudly
    at the argument, like any other bad knob."""
    for bad in (0, -5):
        with pytest.raises(ValueError, match="n_roots"):
            G.edge_betweenness(planted_edges, n_roots=bad)


def test_betweenness_fixed_roots_local_matches_batched(spark, planted_edges):
    """Same seeded fixed-size root set on either execution path."""
    loc = {
        (r.src, r.dst): r.betweenness
        for r in G.edge_betweenness(planted_edges, n_roots=4, seed=3).collect()
    }
    dist = {
        (r.src, r.dst): r.betweenness
        for r in G.edge_betweenness(
            planted_edges, n_roots=4, seed=3, local_cap=0
        ).collect()
    }
    assert set(loc) == set(dist)
    for k in loc:
        assert loc[k] == pytest.approx(dist[k], rel=1e-9), k


def test_local_fast_paths_handle_empty_graphs(spark):
    """Every bounded local path must return an empty (id, ...) frame
    — not raise — when the edge list is empty."""
    empty = spark.createDataFrame([], "src int, dst int")
    assert G.connected_components(empty).count() == 0
    assert G.label_propagation(empty).count() == 0
    assert G.edge_betweenness(empty).count() == 0
    assign, q = G.girvan_newman(empty, max_removals=2)
    assert assign.count() == 0
    assert q == -1.0


def test_cc_distributed_high_diameter_path(spark):
    """A 120-vertex path graph (diameter 119) through the DISTRIBUTED
    loop: pointer-jumping + the batched convergence probe must still
    land every vertex on component 0 well inside max_iter — the
    O(log d) acceleration claim, checked where it matters."""
    edges = [(i, i + 1) for i in range(119)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r.id: r.component for r in G.connected_components(df, local_cap=0).collect()}
    assert len(got) == 120
    assert set(got.values()) == {0}
