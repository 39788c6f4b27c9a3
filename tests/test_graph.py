"""connected_components (operators/graph.py): star-contraction CC."""

import random

import pytest

from cloudtile_spark.operators import graph
from cloudtile_spark.operators.graph import connected_components


def _py_cc(edges):
    """Reference union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def _spark_cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, "src", "dst")
    return {r["node"]: r["component"] for r in out.collect()}


def test_cc_chain_transitive_merge(spark):
    # A-B, B-C, C-D: pairs never connect A-D directly; closure must.
    edges = [(4, 3), (3, 2), (2, 1)]
    assert _spark_cc(spark, edges) == {1: 1, 2: 1, 3: 1, 4: 1}


def test_cc_islands_and_self_loops(spark):
    edges = [(1, 2), (5, 5), (10, 11), (11, 12)]
    got = _spark_cc(spark, edges)
    assert got == {1: 1, 2: 1, 5: 5, 10: 10, 11: 10, 12: 10}


def test_cc_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    expect = _py_cc(edges)
    got = _spark_cc(spark, edges)
    assert got == expect


def test_cc_long_chain_converges_fast(spark):
    # a 64-long chain: label propagation would need 64 rounds; star
    # contraction must finish well inside max_iter (O(log n)).
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, "src", "dst", max_iter=12)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert set(got.values()) == {0} and len(got) == 65


def test_cc_partition_invariance(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(100), rng.randrange(100)) for _ in range(80)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {(r["node"], r["component"])
         for r in connected_components(df, "src", "dst").collect()}
    b = {(r["node"], r["component"])
         for r in connected_components(df.repartition(13), "src",
                                       "dst").collect()}
    assert a == b


def test_cc_hot_star_node(spark):
    # one hub with 3000 spokes (the boilerplate-cluster shape): the min
    # aggregation per node must absorb the hot key without blowing up,
    # and converge in very few rounds.
    edges = [(0, i) for i in range(1, 3001)] + [(5000, 2999)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, "src", "dst", max_iter=8)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert len(got) == 3002 and set(got.values()) == {0}


def test_pagerank_quantized_bit_reproducible(spark):
    """Integer PageRank must be EXACTLY identical for any partitioning
    (floor-quantized contributions; integer sums are order-free), and
    rank mass must stay within the quantization-loss envelope."""
    from pyspark.sql import functions as F

    from cloudtile_spark.operators.graph import pagerank_quantized

    n = 300
    edges = spark.range(n).selectExpr(
        "id AS src", f"(id * id + 7) % {n} AS dst",
        "cast(2 as bigint) AS out_deg").unionAll(
        spark.range(n).selectExpr(
            "id AS src", f"(id * 17 + 3) % {n} AS dst",
            "cast(2 as bigint) AS out_deg"))
    nodes = spark.range(n).selectExpr("id AS node")

    r1 = {r.node: r.rank_q for r in
          pagerank_quantized(edges, nodes, iters=3).collect()}
    r2 = {r.node: r.rank_q for r in
          pagerank_quantized(edges.repartition(13),
                             nodes.repartition(7), iters=3).collect()}
    assert r1 == r2 and len(r1) == n
    # mass conservation up to floor losses: total stays within
    # (base + damped previous total) minus at most 2 units per edge+node
    total = sum(r1.values())
    assert 0.9 * n * 10**9 < total <= n * 10**9 + n
    # ranks differentiate (a uniform result would mean a broken update;
    # the structured quadratic graph yields ~18 in-degree classes at 300
    # nodes after 3 iterations)
    assert len(set(r1.values())) >= 10


def _undirect(edges):
    """Both directions, dedup, no self-loops (the kcore/LPA contract)."""
    s = {(u, v) for u, v in edges if u != v}
    return sorted(s | {(v, u) for u, v in s})


def _py_kcore(edges, k, rounds):
    """Reference fixed-round peel over an adjacency dict."""
    e = set(edges)
    for _ in range(rounds):
        deg = {}
        for u, _v in e:
            deg[u] = deg.get(u, 0) + 1
        alive = {u for u, d in deg.items() if d >= k}
        e = {(u, v) for u, v in e if u in alive and v in alive}
    deg = {}
    for u, _v in e:
        deg[u] = deg.get(u, 0) + 1
    return deg


def test_kcore_random_graph_matches_python_peel(spark):
    from cloudtile_spark.operators.graph import kcore_residual

    for seed, k in ((3, 2), (11, 3)):
        rng = random.Random(seed)
        nodes = list(range(80))
        raw = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(220)]
        edges = _undirect(raw)
        expect = _py_kcore(edges, k, rounds=5)
        df = spark.createDataFrame(edges, "u long, v long")
        got = {r["node"]: r["deg"]
               for r in kcore_residual(df, k=k, rounds=5).collect()}
        assert got == expect


def _py_lpa(edges, rounds):
    """Reference synchronous mode-of-neighbors with min-label tiebreak."""
    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    lbl = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n, nbrs in adj.items():
            cnt = {}
            for m in nbrs:
                cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
            new[n] = min(cnt, key=lambda c: (-cnt[c], c))
        lbl = new
    return lbl


def test_label_prop_random_graph_matches_python_sync(spark):
    from cloudtile_spark.operators.graph import label_propagation_sync

    for seed in (5, 23):
        rng = random.Random(seed)
        nodes = list(range(60))
        raw = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
        edges = _undirect(raw)
        expect = _py_lpa(edges, rounds=3)
        df = spark.createDataFrame(edges, "u long, v long")
        nd = spark.createDataFrame(
            [(n,) for n in sorted({u for u, _ in edges})], "node long")
        got = {r["node"]: r["lbl"]
               for r in label_propagation_sync(df, nd, rounds=3).collect()}
        assert got == expect


def _py_bfs(edges, source, rounds):
    adj = {}
    for u, v in edges:
        adj.setdefault(v, []).append(u)
    dist = {source: 0}
    for _ in range(rounds):
        new = dict(dist)
        for v, d in dist.items():
            for u in adj.get(v, []):
                if u not in new or new[u] > d + 1:
                    new[u] = d + 1
        dist = new
    return dist


def test_bfs_random_graph_matches_python_relaxation(spark):
    from cloudtile_spark.operators.graph import bfs_distances

    for seed in (9, 31):
        rng = random.Random(seed)
        nodes = list(range(70))
        raw = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)]
        edges = _undirect(raw)
        expect = _py_bfs(edges, source=0, rounds=4)
        df = spark.createDataFrame(edges, "u long, v long")
        nd = spark.createDataFrame([(n,) for n in nodes], "node long")
        got = {r["node"]: r["dist"]
               for r in bfs_distances(df, nd, source=0, rounds=4).collect()}
        assert got == expect


def _cc(edges, nodes):
    return graph.connected_components(edges, "u", "v")


def _pagerank(edges, nodes):
    return graph.pagerank_quantized(
        edges.selectExpr("u AS src", "v AS dst", "1L AS out_deg"), nodes)


# (operator, edges (u, v), nodes, expected rows)
_DEGENERATE = {
    "cc_empty": (_cc, [], [], []),
    "cc_lone_self_loop": (_cc, [(5, 5)], [], [(5, 5)]),
    "cc_one_edge": (_cc, [(1, 2)], [], [(1, 1), (2, 1)]),
    "cc_duplicate_edges": (_cc, [(1, 2), (1, 2), (2, 1)], [],
                           [(1, 1), (2, 1)]),
    # no inflow: an isolated node keeps only the teleport share
    "pagerank_isolated_node": (_pagerank, [], [1],
                               [(1, 150_000_000)]),
    "pagerank_no_edges": (_pagerank, [], [], []),
    # an isolated node has no neighbor label to adopt (docstring)
    "lpa_isolated_nodes": (
        lambda e, n: graph.label_propagation_sync(e, n, rounds=3),
        [], [1, 2, 3], []),
    "lpa_no_edges": (
        lambda e, n: graph.label_propagation_sync(e, n, rounds=3),
        [], [], []),
    "bfs_source_absent": (
        lambda e, n: graph.bfs_distances(e, n, source=9, rounds=3),
        [(1, 2), (2, 1)], [1, 2], []),
    "bfs_no_edges": (
        lambda e, n: graph.bfs_distances(e, n, source=1, rounds=3),
        [], [], []),
    "kcore_no_edges": (
        lambda e, n: graph.kcore_residual(e, k=2, rounds=3), [], [], []),
}


@pytest.mark.parametrize("case", list(_DEGENERATE))
def test_graph_degenerate_inputs(spark, case):
    """Every graph operator on degenerate input: no edges, no nodes, a
    lone self-loop, one edge, duplicate edges, isolated nodes and a BFS
    source that is not in the graph."""
    fn, edges, nodes, want = _DEGENERATE[case]
    out = fn(spark.createDataFrame(edges, "u long, v long"),
             spark.createDataFrame([(n,) for n in nodes], "node long"))
    assert sorted(map(tuple, out.collect())) == want
