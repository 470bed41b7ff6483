"""Property-based fuzzing (hypothesis): random small digraphs through
the engine vs the pure-python oracles in oracle/numpy_ref.

The fixed fixtures elsewhere pin known answers on known shapes; these
pin the same contracts on the shapes hypothesis enumerates —
self-loops, parallel edges, loop-only vertices, stars, near-cliques,
disconnected scraps — exactly the degenerate corners hand-written
fixtures under-sample. Deterministic (`derandomize=True`): the example
sequence is a pure function of the strategy, so failures reproduce and
CI never flakes. Examples are deliberately tiny (<= 10 vertices, <= 40
edge slots): the value here is shape diversity; scale evidence lives
in jobs/bench_*.py.
"""

from __future__ import annotations

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from .conftest import edges_df, on_both_paths
from pagerankproject_spark.oracle import numpy_ref as oracle

VERTS = [f"v{i}" for i in range(10)]

edges_strategy = st.lists(
    st.tuples(st.sampled_from(VERTS), st.sampled_from(VERTS)),
    min_size=1,
    max_size=40,
)

FUZZ = settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _tables(spark, pairs):
    from pagerankproject_spark.ingest.edges import build_graph_tables

    return build_graph_tables(spark, edges_df(spark, pairs))


def _simple(pairs):
    return {tuple(sorted((s, t))) for s, t in pairs if s != t}


@FUZZ
@given(pairs=edges_strategy)
def test_fuzz_connected_components(spark, pairs):
    from pagerankproject_spark.graph.components import (
        connected_components,
        connected_components_auto,
    )

    g = _tables(spark, pairs)
    try:
        res = on_both_paths(
            lambda: connected_components(spark, g), lambda r: r.components
        )
        got = {r["url"]: r["component"] for r in res.components.collect()}
        auto = connected_components_auto(spark, g)
        got_auto = {r["url"]: r["component"] for r in auto.components.collect()}
    finally:
        g.unpersist()
    assert got == oracle.connected_components(pairs)
    assert got_auto == got


@FUZZ
@given(pairs=edges_strategy)
def test_fuzz_label_propagation_both_paths(spark, pairs):
    from pagerankproject_spark.graph.labelprop import label_propagation

    # dedupe: the python oracle counts parallel edges as extra votes
    dedup = sorted(set(pairs))
    g = _tables(spark, dedup)
    try:
        res = on_both_paths(
            lambda: label_propagation(spark, g, max_iterations=5),
            lambda r: r.labels,
        )
        got = {r["url"]: r["label"] for r in res.labels.collect()}
    finally:
        g.unpersist()
    assert got == oracle.label_propagation(dedup, max_iterations=5)


@FUZZ
@given(pairs=edges_strategy)
def test_fuzz_triangles(spark, pairs):
    from pagerankproject_spark.graph.triangles import triangle_counts

    assume(_simple(pairs))  # per-edge output is over the simple graph
    res = triangle_counts(spark, edges=edges_df(spark, pairs))
    got = {(r["a"], r["b"]): r["triangles"] for r in res.per_edge.collect()}
    per_edge, total = oracle.triangle_counts(pairs)
    assert got == per_edge
    assert res.total == total


# urls with an inner or trailing slash are dropped by build_graph_tables'
# reference regex, so the GraphTables graph is a subgraph of the pairs
URLS = ["a.x", "b.x", "c.x", "d.x", "e.x", "f.x", "a.x/p", "a.x/p/", "b.x/q/r"]


@FUZZ
@given(
    pairs=st.lists(
        st.tuples(st.sampled_from(URLS), st.sampled_from(URLS)),
        min_size=1,
        max_size=40,
    ).map(lambda p: p + [(t, s) for s, t in p[::3]])
)
def test_fuzz_triangles_graphtables(spark, pairs):
    import re

    from pagerankproject_spark.graph.triangles import triangle_counts
    from pagerankproject_spark.ingest.edges import URL_DROP_RLIKE

    from .conftest import forced_distributed

    drop = re.compile(URL_DROP_RLIKE)
    post = [(s, t) for s, t in pairs if not (drop.search(s) or drop.search(t))]
    assume(post)  # at least one edge survives the regex
    per_edge, total = oracle.triangle_counts(post)
    g = _tables(spark, pairs)
    try:
        loc = triangle_counts(spark, g)
        with forced_distributed():
            dist = triangle_counts(spark, g)
        for mode, res in (("local", loc), ("distributed", dist)):
            got = {(r["a"], r["b"]): r["triangles"] for r in res.per_edge.collect()}
            assert (res.mode, got, res.total) == (mode, per_edge, total)
    finally:
        g.unpersist()


@FUZZ
@given(pairs=edges_strategy)
def test_fuzz_coreness(spark, pairs):
    from pagerankproject_spark.graph.kcore import coreness

    g = _tables(spark, pairs)
    try:
        res = coreness(spark, g)
        got = {r["url"]: r["coreness"] for r in res.vertices.collect()}
    finally:
        g.unpersist()
    assert got == oracle.coreness_by_url(pairs)


@FUZZ
@given(pairs=edges_strategy, src_i=st.integers(min_value=0, max_value=9))
def test_fuzz_bfs_distances(spark, pairs, src_i):
    from pagerankproject_spark.graph.kcore import bfs_distances

    present = sorted({v for e in pairs for v in e})
    source = present[src_i % len(present)]
    g = _tables(spark, pairs)
    try:
        res = bfs_distances(spark, g, sources=[source])
        got = {r["url"]: r["distance"] for r in res.distances.collect()}
    finally:
        g.unpersist()
    assert got == oracle.bfs_distances_by_url(pairs, [source])


@FUZZ
@given(pairs=edges_strategy)
def test_fuzz_pagerank(spark, pairs):
    from pagerankproject_spark.graph.pagerank import pagerank

    g = _tables(spark, pairs)
    try:
        res = pagerank(spark, g, epsilon=1e-7, max_iterations=60)
        got = {r["url"]: r["x"] for r in res.ranks.collect()}
    finally:
        g.unpersist()
    want, _ = oracle.pagerank_by_url(pairs, epsilon=1e-7, max_iterations=60)
    assert set(got) == set(want)
    for url, w in want.items():
        assert abs(got[url] - w) < 1e-5, (url, got[url], w)


@FUZZ
@given(pairs=edges_strategy, k=st.integers(min_value=1, max_value=4))
def test_fuzz_kcore(spark, pairs, k):
    from pagerankproject_spark.graph.kcore import kcore

    assume(_simple(pairs))
    g = _tables(spark, pairs)
    try:
        res = kcore(spark, g, k=k)
        got = {r["url"]: r["degree"] for r in res.vertices.collect()}
    finally:
        g.unpersist()
    assert got == oracle.kcore_vertices(pairs, k=k)


@FUZZ
@given(pairs=edges_strategy, sel=st.integers(min_value=0, max_value=1023))
def test_fuzz_pagerank_personalized(spark, pairs, sel):
    """Random personalization sets (the `sel` bitmask picks which of
    the 10 possible vertices match) through the personalized teleport +
    dangling path vs the numpy oracle."""
    from pyspark.sql import functions as F

    from pagerankproject_spark.graph.pagerank import pagerank

    matches = {VERTS[i] for i in range(10) if sel >> i & 1}
    present = {v for e in pairs for v in e}
    assume(matches & present)  # v must not sum to zero
    g = _tables(spark, pairs)
    try:
        res = pagerank(
            spark, g, v_expr=F.col("url").isin(*sorted(matches)),
            epsilon=1e-7, max_iterations=60,
        )
        got = {r["url"]: r["x"] for r in res.ranks.collect()}
    finally:
        g.unpersist()
    want, _ = oracle.pagerank_by_url(
        pairs, personalization_matches=matches, epsilon=1e-7,
        max_iterations=60,
    )
    assert set(got) == set(want)
    for url, w in want.items():
        assert abs(got[url] - w) < 1e-5, (url, got[url], w)


@FUZZ
@given(pairs=edges_strategy)
def test_fuzz_scc(spark, pairs):
    from pagerankproject_spark.graph.scc import strongly_connected_components

    from .test_scc import python_scc

    g = _tables(spark, pairs)
    try:
        res = strongly_connected_components(spark, g)
        got = {r["url"]: r["component"] for r in res.components.collect()}
    finally:
        g.unpersist()
    assert got == python_scc(pairs)


@FUZZ
@given(pairs=edges_strategy)
def test_fuzz_clustering_coefficient(spark, pairs):
    from pagerankproject_spark.graph.triangles import clustering_coefficients

    from .test_scc import python_lcc

    assume(_simple(pairs))
    g = _tables(spark, pairs)
    try:
        res = clustering_coefficients(spark, g)
        got = {
            r["url"]: (r["degree"], r["triangles"], round(r["lcc"], 6))
            for r in res.collect()
        }
    finally:
        g.unpersist()
    assert got == python_lcc(pairs)


_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
texts_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=10).map(" ".join),
    min_size=2,
    max_size=8,
)


def _py_shingles(text: str, n: int) -> set[str]:
    toks = text.lower().split()
    if len(toks) >= n:
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)} if toks else set()


@FUZZ
@given(texts=texts_strategy)
def test_fuzz_jaccard_pairs(spark, texts):
    from pagerankproject_spark.dedup.jaccard import jaccard_pairs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.01, n=2).collect()
    }
    sh = {i: _py_shingles(t, 2) for i, t in enumerate(texts)}
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if union and inter:
                j = round(inter / union, 6)
                if j >= 0.01:
                    want[(a, b)] = j
    assert got == want


@FUZZ
@given(texts=texts_strategy)
def test_fuzz_dedup_exact(spark, texts):
    from pagerankproject_spark.dedup.exact import dedup_exact

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r["survivor_id"], r["n_dupes"]) for r in dedup_exact(docs).collect()
    )
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    want = sorted((min(ids), len(ids)) for ids in groups.values())
    assert got == want


@FUZZ
@given(pairs=edges_strategy)
def test_fuzz_hits(spark, pairs):
    from pagerankproject_spark.graph.hits import hits

    g = _tables(spark, pairs)
    try:
        res = hits(spark, g, epsilon=0.0, max_iterations=20)
        got = {r["url"]: (r["hub"], r["authority"]) for r in res.scores.collect()}
    finally:
        g.unpersist()
    want = oracle.hits_by_url(pairs, epsilon=0.0, max_iterations=20)
    assert set(got) == set(want)
    for url, (wh, wa) in want.items():
        assert abs(got[url][0] - wh) < 1e-6, (url, got[url][0], wh)
        assert abs(got[url][1] - wa) < 1e-6, (url, got[url][1], wa)


@FUZZ
@given(pairs=edges_strategy)
def test_fuzz_label_propagation(spark, pairs):
    from pagerankproject_spark.graph.labelprop import label_propagation

    # dedupe: the python oracle counts parallel edges as extra votes,
    # the engine's GraphTables path aggregates the simple adjacency
    dedup = sorted(set(pairs))
    g = _tables(spark, dedup)
    try:
        res = label_propagation(spark, g, max_iterations=20)
        got = {r["url"]: r["label"] for r in res.labels.collect()}
    finally:
        g.unpersist()
    assert got == oracle.label_propagation(dedup, max_iterations=20)
