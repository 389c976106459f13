"""BFS shortest-paths kernel and personalized PageRank: closed-form small
graphs (SURVEY.md §5.2 item 2 style)."""

from __future__ import annotations

import pytest

from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import personalized_pagerank
from pagerank_giraph_vs_mapreduce_spark.graph.paths import bfs_distances
from tests.conftest import make_edges


def _dists(res):
    return {r["id"]: r["dist"] for r in res.distances.collect()}


def test_bfs_chain(spark):
    # 0→1→2→3, plus a shortcut 0→2: dist(2) must take the shortcut.
    edges = make_edges(spark, [(0, 1), (1, 2), (2, 3), (0, 2)])
    res = bfs_distances(edges, source=0, max_hops=10)
    assert _dists(res) == {0: 0, 1: 1, 2: 1, 3: 2}
    # Frontier collapsed: last history entry reports zero new vertices.
    assert res.history[-1][1] == 0


def test_bfs_unreachable_and_direction(spark):
    # Directed: 1→0 does not make 1 reachable from 0; 5-6 is disconnected.
    edges = make_edges(spark, [(1, 0), (5, 6)])
    res = bfs_distances(edges, source=0, max_hops=5)
    assert _dists(res) == {0: 0}


def test_bfs_hop_bound(spark):
    edges = make_edges(spark, [(0, 1), (1, 2), (2, 3)])
    res = bfs_distances(edges, source=0, max_hops=2)
    assert _dists(res) == {0: 0, 1: 1, 2: 2}  # 3 is beyond the bound


def test_bfs_duplicate_edges(spark):
    edges = make_edges(spark, [(0, 1), (0, 1), (1, 2)])
    res = bfs_distances(edges, source=0, max_hops=4)
    assert _dists(res) == {0: 0, 1: 1, 2: 2}


def test_ppr_two_node_closed_form(spark):
    # 0⇄1, teleport only to 0. Fixpoint of
    #   pr0 = 0.15 + 0.85*pr1 ; pr1 = 0.85*pr0
    # → pr0 = 0.15/(1-0.85²), pr1 = 0.85*pr0.
    edges = make_edges(spark, [(0, 1), (1, 0)])
    res = personalized_pagerank(edges, sources=[0], max_iter=200, tol=1e-12)
    got = {r["id"]: r["pr"] for r in res.ranks.collect()}
    pr0 = 0.15 / (1 - 0.85**2)
    assert got[0] == pytest.approx(pr0, abs=1e-9)
    assert got[1] == pytest.approx(0.85 * pr0, abs=1e-9)
    assert res.converged


def test_ppr_mass_conservation_with_dangling(spark):
    # 2 is dangling; its mass returns to the source set, so Σpr stays 1.
    edges = make_edges(spark, [(0, 1), (0, 2), (1, 2)])
    res = personalized_pagerank(edges, sources=[0, 1], max_iter=50, tol=1e-10)
    total = sum(r["pr"] for r in res.ranks.collect())
    assert total == pytest.approx(1.0, abs=1e-9)
    # Teleport-unreachable? No — everything is reachable from {0,1} here;
    # but a vertex with no in-edges and no reset weight must end at pr 0.
    edges2 = make_edges(spark, [(7, 0), (0, 1), (1, 0)])
    res2 = personalized_pagerank(edges2, sources=[0], max_iter=50, tol=1e-10)
    got = {r["id"]: r["pr"] for r in res2.ranks.collect()}
    assert got[7] == pytest.approx(0.0, abs=1e-12)


def test_ppr_repeated_sources_count_once(spark):
    """A repeated source id must not shrink the reset vector: sources
    [0, 0] is the walk of sources [0], and Σpr stays 1."""
    edges = make_edges(spark, [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)])
    solve = dict(max_iter=5, tol=-1.0, min_iter=0)
    once = {r["id"]: r["pr"] for r in personalized_pagerank(edges, [0], **solve).ranks.collect()}
    twice = {r["id"]: r["pr"] for r in personalized_pagerank(edges, [0, 0], **solve).ranks.collect()}
    assert twice == once
    assert sum(twice.values()) == pytest.approx(1.0, abs=1e-12)


def test_ppr_every_vertex_a_source_is_pagerank(spark):
    """With every vertex a source, the reset vector is uniform 1/N and
    personalized PageRank is plain PageRank (dangling vertex 4 included)."""
    from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import pagerank

    edges = make_edges(spark, [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (2, 4)])
    solve = dict(max_iter=5, tol=-1.0, min_iter=0)
    plain = {r["id"]: r["pr"] for r in pagerank(edges, **solve).ranks.collect()}
    ppr = {
        r["id"]: r["pr"]
        for r in personalized_pagerank(edges, sorted(plain), **solve).ranks.collect()
    }
    assert set(ppr) == set(plain)
    for k in plain:
        assert ppr[k] == pytest.approx(plain[k], abs=1e-12)


def test_ppr_empty_sources_and_empty_graph(spark):
    edges = make_edges(spark, [(0, 1)])
    assert personalized_pagerank(edges, sources=[]).ranks.count() == 0
    empty = make_edges(spark, [])
    assert personalized_pagerank(empty, sources=[1]).ranks.count() == 0


def test_multi_bfs_equals_per_source_runs(spark):
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import (
        bfs_distances,
        multi_bfs,
    )

    edges = make_edges(
        spark, [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1), (6, 7)]
    )
    sources = [1, 5, 6]
    combined = {
        (r["id"], r["source"]): r["dist"]
        for r in multi_bfs(edges, sources, max_hops=5).distances.collect()
    }
    separate = {}
    for s in sources:
        for r in bfs_distances(edges, s, max_hops=5).distances.collect():
            separate[(r["id"], s)] = r["dist"]
    assert combined == separate
    with pytest.raises(ValueError, match="at least one source"):
        multi_bfs(edges, [], max_hops=2)


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src bigint, dst bigint, w bigint")


def test_sssp_prefers_cheap_long_path(spark):
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import sssp_distances

    # direct 0→3 costs 10; the 3-hop detour costs 3 — needs 3 rounds
    edges = _wedges(spark, [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1)])
    res = sssp_distances(edges, source=0, rounds=10)
    assert _dists(res) == {0: 0, 1: 1, 2: 2, 3: 3}
    assert res.history[-1][1] == 0  # reached the fixpoint and stopped


def test_sssp_parallel_edges_take_min_weight(spark):
    from pagerank_giraph_vs_mapreduce_spark.graph.paths import sssp_distances

    edges = _wedges(spark, [(0, 1, 9), (0, 1, 2), (1, 2, 5), (1, 2, 7)])
    res = sssp_distances(edges, source=0, rounds=5)
    assert _dists(res) == {0: 0, 1: 2, 2: 7}


def test_sssp_matches_dijkstra_on_random_graphs(spark):
    import heapq
    import random

    from pagerank_giraph_vs_mapreduce_spark.graph.paths import sssp_distances

    rng = random.Random(11)
    for trial in range(3):
        n = 12
        triples = [
            (rng.randrange(n), rng.randrange(n), rng.randrange(1, 8))
            for _ in range(40)
        ]
        adj: dict[int, list[tuple[int, int]]] = {}
        for s, d, w in triples:
            adj.setdefault(s, []).append((d, w))
        best = {0: 0}
        pq = [(0, 0)]
        while pq:
            du, u = heapq.heappop(pq)
            if du > best.get(u, 1 << 60):
                continue
            for v, w in adj.get(u, []):
                if du + w < best.get(v, 1 << 60):
                    best[v] = du + w
                    heapq.heappush(pq, (best[v], v))
        res = sssp_distances(_wedges(spark, triples), source=0, rounds=50)
        assert _dists(res) == best, f"trial {trial}"
