"""Graph operator unit tests: hand-computed PageRank integer-grid
fixtures (update rule, dangling-mass redistribution, isolated vertices),
triangles, label propagation, and the BFS / min-plus relaxation against a
plain-Python Bellman-Ford."""

from __future__ import annotations

import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from cdc_agents_data_stream_spark.operators import graph as G


def _ranks(spark, nodes, edges, iterations):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    out = G.pagerank(ndf, edf, iterations=iterations)
    return {r["node"]: r["rank_ppm"] for r in out.collect()}


def test_two_node_cycle_is_stationary(spark):
    # 1 <-> 2: each node always receives exactly the other's full rank,
    # so rank stays at 150000 + 850*1000000//1000 = 1000000 every round.
    got = _ranks(spark, [1, 2], [(1, 2), (2, 1)], iterations=3)
    assert got == {1: 1_000_000, 2: 1_000_000}


def test_one_iteration_hand_computed(spark):
    # Graph: 1->2, 1->3, 2->3. No dangling (3 has no out-edges -> 3 IS
    # dangling). N=3, init 1000000 each.
    #   contribs: node2 <- 1000000//2 = 500000
    #             node3 <- 500000 + 1000000 = 1500000
    #   dangling sum = rank(3) = 1000000; per-node share = 1000000//3 = 333333
    #   r(1) = 150000 + (850 * (0 + 333333)) // 1000       = 433333
    #   r(2) = 150000 + (850 * (500000 + 333333)) // 1000  = 858333
    #   r(3) = 150000 + (850 * (1500000 + 333333)) // 1000 = 1708333
    got = _ranks(spark, [1, 2, 3], [(1, 2), (1, 3), (2, 3)], iterations=1)
    assert got == {1: 433_333, 2: 858_333, 3: 1_708_333}


def test_isolated_vertex_gets_teleport_plus_dangling_share(spark):
    # 1 <-> 2 plus isolated vertex 9: vertex 9 contributes its whole rank
    # to the dangling pool and receives only teleport + its share back.
    got = _ranks(spark, [1, 2, 9], [(1, 2), (2, 1)], iterations=1)
    share = 1_000_000 // 3
    expect_9 = 150_000 + (850 * share) // 1000
    expect_12 = 150_000 + (850 * (1_000_000 + share)) // 1000
    assert got[9] == expect_9
    assert got[1] == got[2] == expect_12


def test_total_mass_is_conserved_up_to_floor_loss(spark):
    # Integer floors only ever LOSE mass; after any round the total is
    # bounded by N * init and stays within the cumulative floor loss
    # (at most 1 ppm per division site per round).
    nodes = list(range(1, 8))
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (2, 7)]
    got = _ranks(spark, nodes, edges, iterations=3)
    total = sum(got.values())
    assert total <= len(nodes) * G.PR_INIT_PPM
    # loss bound: per round, <= |E| + 2N division floors, 3 rounds
    assert total >= len(nodes) * G.PR_INIT_PPM - 3 * (len(edges) + 2 * len(nodes)) * 1000
    # in-degree-0 node 7's rank must exceed pure teleport (dangling share)
    assert got[7] >= 150_000


def test_triangle_counts_k4(spark):
    # K4: 4 triangles; every vertex lies on C(3,2) = 3 of them.
    from itertools import combinations

    pairs = list(combinations([1, 2, 3, 4], 2))
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["node"]: r["n_triangles"]
        for r in G.triangle_counts(pdf).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_path_has_none(spark):
    pdf = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long")
    assert G.triangle_counts(pdf).count() == 0


def test_triangle_counts_two_disjoint_triangles(spark):
    pdf = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long",
    )
    got = {r["node"]: r["n_triangles"] for r in G.triangle_counts(pdf).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1}


def test_label_propagation_two_cliques_bridge(spark):
    # Two 3-cliques {1,2,3} and {7,8,9} joined by one bridge 3-7: with
    # the self-vote, round 1 collapses each clique to its minimum label
    # (all votes tie -> smallest); the bridge pulls 7 toward label 3 for
    # one round, but its own clique's majority reclaims it — final
    # communities are exactly the two cliques.
    import itertools

    def clique(nodes):
        return [(a, b) for a, b in itertools.permutations(nodes, 2) if a != b]

    edges = clique([1, 2, 3]) + clique([7, 8, 9]) + [(3, 7), (7, 3)]
    ndf = spark.createDataFrame([(n,) for n in [1, 2, 3, 7, 8, 9]], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in G.label_propagation(ndf, edf, iterations=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_label_propagation_isolated_keeps_own_label(spark):
    ndf = spark.createDataFrame([(1,), (2,), (9,)], "node long")
    edf = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r["node"]: r["label"] for r in G.label_propagation(ndf, edf).collect()}
    # self-vote keeps the 1<->2 pair stable at the smaller label (no
    # synchronous-LPA swap oscillation); isolated 9 keeps its own label
    assert got == {1: 1, 2: 1, 9: 9}


def test_personalized_pagerank_mass_returns_to_seeds(spark):
    # Star: seed 1 in the center of 2,3; teleport + dangling mass must
    # flow only through the seed. Non-seed leaves receive only the
    # damped contribution term.
    ndf = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    edf = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (3, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["rank_ppm"]
        for r in G.personalized_pagerank(ndf, edf, seeds, iterations=1).collect()
    }
    # r1: contrib(1) = r(2)/1 + r(3)/1 = 2_000_000; contrib(2)=contrib(3)=500_000
    # no dangling. seed term for node 1: (150000*3 + 0) // 1 = 450000
    assert got[1] == 450_000 + (850 * 2_000_000) // 1000
    assert got[2] == got[3] == (850 * 500_000) // 1000


def test_personalized_pagerank_empty_seeds_raises(spark):
    ndf = spark.createDataFrame([(1,)], "node long")
    edf = spark.createDataFrame([], "src long, dst long")
    seeds = spark.createDataFrame([], "node long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        G.personalized_pagerank(ndf, edf, seeds)


def test_bfs_levels_path_graph(spark):
    # path 1-2-3-4-5 (undirected), source 1, 4 rounds: dists 0..4
    edges = [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5)]]
    edges += [(b, a) for a, b in edges]
    edf = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in G.bfs_levels(edf, src).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_levels_depth_budget_and_min_distance(spark):
    # diamond with a long way round: 1->2->4 and 1->3->5->4; min dist wins
    edf = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 3), (3, 5), (5, 4)], "src long, dst long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in G.bfs_levels(edf, src, rounds=2).collect()}
    assert got[4] == 2  # via 1-2-4, not the 3-hop path
    assert 5 in got and got[5] == 2
    # depth budget: with rounds=1 node 4 is unreached
    got1 = {r["node"]: r["dist"] for r in G.bfs_levels(edf, src, rounds=1).collect()}
    assert 4 not in got1


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_duplicate_sources_give_one_row_per_node(spark):
    # the dict comparisons above would hide a node listed twice
    edf = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    src = spark.createDataFrame([(1,), (1,)], "node long")
    assert _rows(G.bfs_levels(edf, src)) == [(1, 0), (2, 1), (3, 2)]
    assert _rows(G.bfs_levels(edf, src, rounds=0)) == [(1, 0)]
    wdf = spark.createDataFrame([(1, 2, 5), (2, 3, 7)], "src long, dst long, w long")
    assert _rows(G.minplus_levels(wdf, src)) == [(1, 0), (2, 5), (3, 12)]
    assert _rows(G.minplus_levels(wdf, src, rounds=0)) == [(1, 0)]


def _bellman_ford(edges, sources, rounds):
    """Synchronous k-round Bellman-Ford over (src, dst, w) triples."""
    dist = {s: 0 for s in sources}
    for _ in range(rounds):
        nxt = dict(dist)
        for u, v, w in edges:
            if u in dist and (v not in nxt or dist[u] + w < nxt[v]):
                nxt[v] = dist[u] + w
        dist = nxt
    return sorted(dist.items())


@contextmanager
def _broadcast_threshold(spark, value):
    """``spark.sql.autoBroadcastJoinThreshold`` set to ``value`` (None:
    the session's own) for the block — the relaxation's plan switch."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@pytest.mark.parametrize("threshold", [None, "-1"], ids=["one_task", "shuffled"])
def test_relaxation_matches_python_bellman_ford(spark, threshold):
    """On seeded random graphs with self-loops, duplicate edges (also
    with different weights) and a source no edge touches, at 0, 1 and 4
    rounds: `minplus_levels` equals Bellman-Ford, and `bfs_levels` equals
    both BFS and `minplus_levels` over the same edges at weight 1 — in
    the one-task plan and in the shuffled one (broadcast disabled)."""
    rng = random.Random(11)
    with _broadcast_threshold(spark, threshold):
        for _ in range(3):
            n = rng.randint(6, 14)
            edges = [(rng.randrange(n), rng.randrange(n), rng.randint(1, 9)) for _ in range(rng.randint(n, 3 * n))]
            u, v, w = edges[0]
            edges += [(u, v, w), (u, v, w + 3), (0, 0, 2)]
            sources = [0, rng.randrange(n), n + 5]
            wdf = spark.createDataFrame(edges, "src long, dst long, w long")
            edf = wdf.select("src", "dst")
            sdf = spark.createDataFrame([(s,) for s in sources], "node long")
            unit = [(a, b, 1) for a, b, _ in edges]
            for rounds in (0, 1, 4):
                hops = _bellman_ford(unit, sources, rounds)
                assert _rows(G.minplus_levels(wdf, sdf, rounds)) == _bellman_ford(edges, sources, rounds)
                assert _rows(G.bfs_levels(edf, sdf, rounds)) == hops
                assert _rows(G.minplus_levels(edf.withColumn("w", F.lit(1)), sdf, rounds)) == hops


def test_null_weight_relaxes_to_the_oracle_sentinel(spark):
    """A NULL-weight edge reaches its destination at the DuckDB oracle's
    2^60 "unreached" sentinel, and no cost past it exceeds the sentinel —
    the same rows `relax_oracle_iterations` gives, not a 0-cost node."""
    import duckdb

    edges = [(1, 2, None), (2, 3, 5), (1, 4, 2), (4, 2, None), (4, 5, 1)]
    wdf = spark.createDataFrame(edges, "src long, dst long, w long")
    src = spark.createDataFrame([(1,)], "node long")
    con = duckdb.connect()
    con.execute("CREATE TABLE edges (src BIGINT, dst BIGINT, w BIGINT)")
    con.executemany("INSERT INTO edges VALUES (?, ?, ?)", edges)
    oracle = con.execute(
        "WITH d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost),"
        f" {G.relax_oracle_iterations('cost', 'e.w', rounds=3)} SELECT node, cost FROM d3"
    ).fetchall()
    got = _rows(G.minplus_levels(wdf, src, rounds=3))
    assert got == sorted(oracle)
    assert got == [(1, 0), (2, 1 << 60), (3, 1 << 60), (4, 2), (5, 3)]


@pytest.mark.parametrize("threshold,per_round", [(None, 0), ("-1", 1)], ids=["one_task", "shuffled"])
def test_relaxation_plan_is_linear_in_rounds(spark, threshold, per_round):
    """Building the result runs the same jobs at any round count (the
    edge set's materialization; no round is checkpointed), and running
    it adds one shuffle stage — one AQE job — per extra round when the
    edge set does not fit the broadcast threshold, none when it does."""
    from tests.test_driver_cost import _jobs

    edf = spark.createDataFrame([(i, i + 1) for i in range(20)], "src long, dst long")
    src = spark.createDataFrame([(0,)], "node long")

    def jobs(rounds):
        g = f"relax_{threshold}_{rounds}"
        df, built = _jobs(spark, f"{g}_build", lambda: G.bfs_levels(edf, src, rounds))
        rows, ran = _jobs(spark, f"{g}_run", df.collect)
        assert len(rows) == rounds + 1
        return built, ran

    with _broadcast_threshold(spark, threshold):
        (b2, r2), (b6, r6) = jobs(2), jobs(6)
    assert b6 == b2
    assert r6 - r2 == 4 * per_round
