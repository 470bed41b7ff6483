"""SCC (graph/scc.py) and local clustering coefficient
(graph/triangles.py::clustering_coefficients) vs brute-force Python
oracles — T2 tier of SURVEY §5.2."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from fixtures.graphs import make_clustered_random, make_weblike
from pagerankproject_spark.graph.scc import strongly_connected_components
from pagerankproject_spark.graph.triangles import clustering_coefficients
from pagerankproject_spark.ingest.edges import build_graph_tables

from .conftest import edges_df


def python_scc(pairs) -> dict[str, str]:
    """Iterative Tarjan; component labeled by its minimum vertex.
    Vertex set = endpoints of the edge list (the engine's convention)."""
    adj = defaultdict(list)
    verts = set()
    for s, d in pairs:
        verts.update((s, d))
        if s != d:
            adj[s].append(d)
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    out: dict[str, str] = {}
    counter = [0]

    def strongconnect(root):
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                lbl = min(comp)
                for w in comp:
                    out[w] = lbl
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])

    for v in sorted(verts):
        if v not in index:
            strongconnect(v)
    return out


def python_lcc(pairs):
    """(degree, triangles, lcc) per vertex of the simplified
    undirected graph; vertex set = all endpoints."""
    und = set()
    verts = set()
    for s, d in pairs:
        verts.update((s, d))
        if s != d:
            und.add((min(s, d), max(s, d)))
    nbrs = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    out = {}
    for v in sorted(verts):
        ns = sorted(nbrs[v])
        deg = len(ns)
        tri = sum(
            1
            for i in range(deg)
            for j in range(i + 1, deg)
            if (min(ns[i], ns[j]), max(ns[i], ns[j])) in und
        )
        lcc = 2.0 * tri / (deg * (deg - 1)) if deg >= 2 else 0.0
        out[v] = (deg, tri, round(lcc, 6))
    return out


def make_random_digraph(seed=7, n=60, m=240):
    rng = random.Random(seed)
    nodes = [f"v{i:02d}" for i in range(n)]
    edges = set()
    while len(edges) < m:
        s, d = rng.choice(nodes), rng.choice(nodes)
        if s != d:
            edges.add((s, d))
    return sorted(edges)


def _tables(spark, pairs):
    return build_graph_tables(spark, edges_df(spark, pairs))


def test_scc_hand_graph(spark):
    # cycle {a,b,c} -> chain d -> 2-cycle {e,f}; g <-> h island
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "d"), ("d", "e"),
        ("e", "f"), ("f", "e"),
        ("g", "h"), ("h", "g"),
    ]
    g = _tables(spark, pairs)
    res = strongly_connected_components(spark, g)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "d": "d",
        "e": "e", "f": "e",
        "g": "g", "h": "g",
    }


def test_scc_pure_dag_trims_in_one_round(spark):
    # a DAG has only singleton SCCs; trimming alone must settle it
    pairs = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")]
    g = _tables(spark, pairs)
    res = strongly_connected_components(spark, g)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == {u: u for u in "abcde"}
    assert res.rounds == 0  # never reached coloring


def test_scc_random_digraph_matches_tarjan(spark):
    pairs = make_random_digraph(seed=7, n=60, m=240)
    g = _tables(spark, pairs)
    res = strongly_connected_components(spark, g)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == python_scc(pairs)


def test_scc_weblike_matches_tarjan(spark):
    import re

    pairs = make_weblike(seed=5, n_nodes=300, m_edges=2400)
    g = _tables(spark, pairs)  # applies the reference drop-regex (#3)
    drop = re.compile(r"(/$)|(/.*/)")
    kept = [
        (s, d) for s, d in pairs if not drop.search(s) and not drop.search(d)
    ]
    res = strongly_connected_components(spark, g)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == python_scc(kept)


def test_scc_refines_weak_components(spark):
    from pagerankproject_spark.graph.components import connected_components

    pairs = make_random_digraph(seed=11, n=50, m=130)
    g = _tables(spark, pairs)
    scc = {
        r["url"]: r["component"]
        for r in strongly_connected_components(spark, g).components.collect()
    }
    cc = {
        r["url"]: r["component"]
        for r in connected_components(spark, g).components.collect()
    }
    assert set(scc) == set(cc)
    # two vertices in one SCC are necessarily weakly connected
    by_scc = defaultdict(list)
    for v, l in scc.items():
        by_scc[l].append(v)
    for members in by_scc.values():
        assert len({cc[v] for v in members}) == 1


def test_clustering_coefficient_matches_brute_force(spark):
    pairs, _ = make_clustered_random(seed=9, k_clusters=3, n=90, p_in=0.15)
    g = _tables(spark, pairs)
    got = {
        r["url"]: (r["degree"], r["triangles"], round(r["lcc"], 6))
        for r in clustering_coefficients(spark, g).collect()
    }
    assert got == python_lcc(pairs)


def test_clustering_coefficient_triangle_and_path(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    g = _tables(spark, pairs)
    got = {
        r["url"]: (r["degree"], r["triangles"], r["lcc"])
        for r in clustering_coefficients(spark, g).collect()
    }
    assert got == {
        "a": (2, 1, 1.0),
        "b": (2, 1, 1.0),
        "c": (3, 1, 1.0 / 3),
        "d": (1, 0, 0.0),
    }


def test_incremental_scc_matches_cold_rebuild(spark):
    """Condensation maintenance: delta edges merge two previous SCCs
    into one (closing a cycle through both), add brand-new vertices,
    and extend a tendril — result must equal the cold rebuild."""
    from pagerankproject_spark.graph.scc import incremental_scc

    base = [
        ("a", "b"), ("b", "c"), ("c", "a"),       # SCC {a,b,c}
        ("c", "e"), ("e", "f"), ("f", "e"),       # SCC {e,f}, fed by c
        ("g", "h"),                                 # DAG tendril
    ]
    delta = [
        ("f", "a"),                                 # merges {a,b,c} + {e,f}
        ("h", "i"), ("i", "g"),                     # new cycle {g,h,i}
        ("new", "a"),                               # new DAG vertex
    ]
    g1 = _tables(spark, base)
    prev = strongly_connected_components(spark, g1).components
    got_df = incremental_scc(
        spark, prev, edges_df(spark, base), edges_df(spark, delta)
    )
    got = {r["url"]: r["component"] for r in got_df.collect()}

    g_full = _tables(spark, base + delta)
    want = {
        r["url"]: r["component"]
        for r in strongly_connected_components(spark, g_full).components.collect()
    }
    assert got == want
    assert got == python_scc(base + delta)
    assert got["f"] == "a" and got["i"] == "g"


def test_incremental_scc_random_digraph(spark):
    from pagerankproject_spark.graph.scc import incremental_scc

    pairs = make_random_digraph(seed=23, n=50, m=220)
    cut = len(pairs) * 2 // 3
    base, delta = pairs[:cut], pairs[cut:]
    g1 = _tables(spark, base)
    prev = strongly_connected_components(spark, g1).components
    got = {
        r["url"]: r["component"]
        for r in incremental_scc(
            spark, prev, edges_df(spark, base), edges_df(spark, delta)
        ).collect()
    }
    assert got == python_scc(pairs)


def python_condensation_layers(pairs):
    """Hand replay: Tarjan components + longest-path layering of the
    condensation (memoized DFS on the DAG)."""
    comp = python_scc(pairs)
    cedges = {}
    for s, t in pairs:
        if s != t and comp[s] != comp[t]:
            cedges.setdefault(comp[t], set()).add(comp[s])  # preds of t
    import functools

    @functools.lru_cache(maxsize=None)
    def layer(c):
        return max((layer(p) + 1 for p in cedges.get(c, ())), default=0)

    return {u: (comp[u], layer(comp[u])) for u in comp}


def test_condensation_layers_hand_graph(spark):
    from pagerankproject_spark.graph.scc import condensation_layers

    # cycle {a,b,c} -> d -> e, f -> e, isolated pair g -> h
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "e"),
        ("f", "e"), ("g", "h"),
    ]
    g = _tables(spark, pairs)
    res = condensation_layers(spark, g, edges_df(spark, pairs))
    got = {r["url"]: (r["component"], r["layer"]) for r in res.layers.collect()}
    assert got == {
        "a": ("a", 0), "b": ("a", 0), "c": ("a", 0),
        "d": ("d", 1), "e": ("e", 2), "f": ("f", 0),
        "g": ("g", 0), "h": ("h", 1),
    }
    assert res.depth == 2


def test_condensation_layers_random_digraph(spark):
    from pagerankproject_spark.graph.scc import condensation_layers

    pairs = make_random_digraph(seed=21, n=60, m=240)
    g = _tables(spark, pairs)
    res = condensation_layers(spark, g, edges_df(spark, pairs))
    got = {r["url"]: (r["component"], r["layer"]) for r in res.layers.collect()}
    assert got == python_condensation_layers(pairs)
    # layering is a valid topological stratification: every cond edge
    # goes strictly upward
    for s, t in pairs:
        if s != t and got[s][0] != got[t][0]:
            assert got[t][1] > got[s][1], (s, t)


def test_scc_coloring_cap_raises(spark):
    """A chain of 3-cycles: inside the cycle holding the smallest id,
    one vertex is two hops from it, so forward coloring changes labels
    in round 2 and cannot settle in 2 rounds. With max_iterations=2 the
    call raises instead of returning a non-fixpoint; the default cap
    matches Tarjan."""
    pairs = []
    for i in range(4):
        a, b, c = f"c{i}a", f"c{i}b", f"c{i}c"
        pairs += [(a, b), (b, c), (c, a)]
        if i:
            pairs.append((f"c{i - 1}c", a))
    g = _tables(spark, pairs)
    with pytest.raises(RuntimeError, match="forward coloring.*max_iterations=2"):
        strongly_connected_components(spark, g, max_iterations=2)
    res = strongly_connected_components(spark, g)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    g.unpersist()
    assert got == python_scc(pairs)
