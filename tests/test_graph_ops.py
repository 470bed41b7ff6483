"""T2 graph-ops tests (SURVEY §5.2): CC / LPA / triangles exact outputs
vs hand fixtures and the brute-force oracle."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from fixtures.graphs import (
    TRIANGLE_CHAIN_EDGES,
    TRIANGLE_CHAIN_PER_EDGE,
    TRIANGLE_CHAIN_TOTAL,
    TWO_COMPONENTS_EDGES,
    make_clustered_random,
    make_two_cliques_bridge,
    make_weblike,
)
from pagerankproject_spark.graph.components import connected_components
from pagerankproject_spark.graph.labelprop import label_propagation
from pagerankproject_spark.graph.triangles import triangle_counts
from pagerankproject_spark.ingest.edges import build_graph_tables
from pagerankproject_spark.oracle import numpy_ref as oracle

from .conftest import edges_df, forced_distributed, on_both_paths


def _tables(spark, pairs, **kw):
    return build_graph_tables(spark, edges_df(spark, pairs), **kw)


def test_connected_components_two_components(spark):
    g = _tables(spark, TWO_COMPONENTS_EDGES)
    res = on_both_paths(
        lambda: connected_components(spark, g), lambda r: r.components
    )
    got = {r["url"]: r["component"] for r in res.components.collect()}
    # note: isolated vertex "f" never appears in the edge table, so the
    # engine's vertex set is {a..e} (the reference builds its vertex set
    # from edges too, pagerank.py:45-46)
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}
    assert res.converged


def test_connected_components_clustered_matches_oracle(spark):
    pairs, k = make_clustered_random(seed=3, k_clusters=5, n=150, p_in=0.08)
    g = _tables(spark, pairs)
    res = connected_components(spark, g, salt_buckets=4)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    expected = oracle.connected_components(pairs)
    assert got == expected
    assert len(set(got.values())) == k
    # the unsalted default runs on the driver and walks the same rounds
    plain = connected_components(spark, g)
    assert {m["mode"] for m in plain.metrics} == {"local"}
    assert {r["url"]: r["component"] for r in plain.components.collect()} == got
    assert plain.iterations == res.iterations and plain.converged
    assert [m["changed"] for m in plain.metrics] == [
        m["changed"] for m in res.metrics
    ]


def test_lpa_two_cliques(spark):
    pairs = make_two_cliques_bridge(k=5)
    g = _tables(spark, pairs)
    res = on_both_paths(
        lambda: label_propagation(spark, g, max_iterations=20),
        lambda r: r.labels,
    )
    got = {r["url"]: r["label"] for r in res.labels.collect()}
    expected = oracle.label_propagation(pairs, max_iterations=20)
    assert got == expected


def test_lpa_weblike_matches_oracle(spark):
    pairs = make_weblike(seed=5, n_nodes=120, m_edges=900)
    g = _tables(spark, pairs)
    res = on_both_paths(
        lambda: label_propagation(spark, g, max_iterations=8),
        lambda r: r.labels,
    )
    got = {r["url"]: r["label"] for r in res.labels.collect()}
    expected = oracle.label_propagation(
        [e for e in _post_regex(pairs)], max_iterations=8
    )
    assert got == expected


def test_lpa_salted_exact_match(spark):
    """Salted two-phase counting returns byte-identical labels to the
    unsalted path (the salt only splits the partial aggregation)."""
    pairs = make_weblike(seed=5, n_nodes=120, m_edges=900)
    g = _tables(spark, pairs)
    plain = label_propagation(spark, g, max_iterations=8, salt_buckets=0)
    salted = label_propagation(spark, g, max_iterations=8, salt_buckets=4)
    a = {r["url"]: r["label"] for r in plain.labels.collect()}
    b = {r["url"]: r["label"] for r in salted.labels.collect()}
    assert a == b
    assert plain.iterations == salted.iterations


def test_lpa_frontier_mode_exact_match(spark):
    """Frontier-restricted late rounds (recompute only destinations
    whose in-neighborhood changed) return byte-identical labels and the
    identical iteration count to the always-full recompute; with
    threshold 1.0 every round past the first runs in frontier mode."""
    pairs = make_weblike(seed=5, n_nodes=120, m_edges=900)
    g = _tables(spark, pairs)
    full = label_propagation(spark, g, max_iterations=8, frontier_threshold=0.0)
    front = label_propagation(
        spark, g, max_iterations=8, frontier_threshold=1.0,
        frontier_min_edges=0,  # the gate defaults to 1M edges (fixed
        # cost below that); force the mode on for this tiny fixture
    )
    assert {m["mode"] for m in full.metrics} == {"full"}
    assert "frontier" in {m["mode"] for m in front.metrics}
    a = {r["url"]: r["label"] for r in full.labels.collect()}
    b = {r["url"]: r["label"] for r in front.labels.collect()}
    assert a == b
    assert full.iterations == front.iterations
    assert [m["changed"] for m in full.metrics] == [
        m["changed"] for m in front.metrics
    ]
    g.unpersist()


def _post_regex(pairs):
    import re

    rx = re.compile(r".*((/$)|(/.*/)).*")
    return [(s, t) for s, t in pairs if not rx.match(s) and not rx.match(t)]


def _triangles_on_both_paths(spark, g):
    """triangle_counts(spark, g) on the driver and forced onto the
    wedge-join cascade: identical rows and total, each path tagged.
    Returns the local result."""
    loc = triangle_counts(spark, g)
    with forced_distributed():
        dist = triangle_counts(spark, g)
    assert (loc.mode, dist.mode) == ("local", "distributed")
    assert sorted(loc.per_edge.collect()) == sorted(dist.per_edge.collect())
    assert loc.total == dist.total
    return loc


def test_triangles_chain(spark):
    g = _tables(spark, TRIANGLE_CHAIN_EDGES)
    res = _triangles_on_both_paths(spark, g)
    got = {(r["a"], r["b"]): r["triangles"] for r in res.per_edge.collect()}
    assert got == TRIANGLE_CHAIN_PER_EDGE
    assert res.total == TRIANGLE_CHAIN_TOTAL


def test_triangles_graphtables_weblike_matches_oracle(spark):
    # web-like graph through build_graph_tables (drop-regex, duplicate
    # links, reciprocal pairs, hubs): both paths equal the oracle on
    # the post-regex pairs
    pairs = make_weblike(seed=9, n_nodes=100, m_edges=800)
    pairs += [(t, s) for s, t in pairs[::7]] + [pairs[0], (pairs[1][0],) * 2]
    g = _tables(spark, pairs)
    res = _triangles_on_both_paths(spark, g)
    got = {(r["a"], r["b"]): r["triangles"] for r in res.per_edge.collect()}
    per_edge, total = oracle.triangle_counts(_post_regex(pairs))
    assert got == per_edge
    assert res.total == total
    g.unpersist()


def test_triangles_local_wedge_chunks_stitch(spark, monkeypatch):
    # a wedge-chunk bound of 3 splits the enumeration into many chunks
    # (K12 alone opens 220 wedges); the counts must not change
    from pagerankproject_spark.graph import triangles

    clique = [(f"k{i:02d}", f"k{j:02d}") for i in range(12) for j in range(i)]
    pairs = clique + make_weblike(seed=9, n_nodes=60, m_edges=300)
    g = _tables(spark, pairs)
    whole = triangle_counts(spark, g)
    chunks = []
    real = triangles._wedge_chunks

    def small_chunks(later, bound):
        for first, last in real(later, 3):
            assert last == first + 1 or later[first:last].sum() <= 3
            chunks.append((first, last))
            yield first, last

    monkeypatch.setattr(triangles, "_wedge_chunks", small_chunks)
    chunked = triangle_counts(spark, g)
    assert chunked.mode == "local" and len(chunks) > 50
    assert [c[0] for c in chunks[1:]] == [c[1] for c in chunks[:-1]]
    assert sorted(chunked.per_edge.collect()) == sorted(whole.per_edge.collect())
    assert chunked.total == whole.total
    assert whole.total == oracle.triangle_counts(_post_regex(pairs))[1]
    g.unpersist()


def test_triangles_local_falls_back_above_wedge_budget(spark, monkeypatch):
    # the oriented wedge count decides: at the budget the driver counts,
    # one wedge below it the cascade does, with the same rows and total
    from pagerankproject_spark.graph import triangles

    pairs = make_weblike(seed=9, n_nodes=60, m_edges=300)
    g = _tables(spark, pairs)
    below = triangle_counts(spark, g)
    # sum of C(d+, 2), each edge oriented towards the larger (degree,
    # url) end (local-build ids are url ranks)
    simple = {tuple(sorted(e)) for e in _post_regex(pairs) if e[0] != e[1]}
    deg = Counter(u for e in simple for u in e)
    outdeg = Counter(min(e, key=lambda u: (deg[u], u)) for e in simple)
    assert below.mode == "local"
    assert below.wedges == sum(d * (d - 1) // 2 for d in outdeg.values()) > 0
    monkeypatch.setattr(triangles, "LOCAL_WEDGE_BUDGET", below.wedges)
    assert triangle_counts(spark, g).mode == "local"
    monkeypatch.setattr(triangles, "LOCAL_WEDGE_BUDGET", below.wedges - 1)
    above = triangle_counts(spark, g)
    assert (above.mode, above.wedges) == ("distributed", below.wedges)
    assert sorted(above.per_edge.collect()) == sorted(below.per_edge.collect())
    assert above.total == below.total
    g.unpersist()


def test_triangles_weblike_matches_oracle(spark):
    pairs = make_weblike(seed=9, n_nodes=100, m_edges=800)
    post = _post_regex(pairs)
    res = triangle_counts(spark, edges=edges_df(spark, post))
    got = {(r["a"], r["b"]): r["triangles"] for r in res.per_edge.collect()}
    per_edge, total = oracle.triangle_counts(post)
    assert got == per_edge
    assert res.total == total


def test_triangles_packed_key_matches_string_path(spark, distributed):
    # the GraphTables path packs the (v1, v2) wedge join key into one
    # long (v1<<32 | v2) when g.n < 2^31; the string-keyed path never
    # packs. Same graph through both must agree edge-for-edge — this
    # pins the bit-packing (shift/unpack round-trip) against the
    # unpacked 2-column join.
    pairs = make_weblike(seed=13, n_nodes=90, m_edges=700)
    g = _tables(spark, pairs)
    assert g.n < 2**31  # packed path engaged
    packed = triangle_counts(spark, g)
    assert packed.mode == "distributed"
    got_packed = {
        (r["a"], r["b"]): r["triangles"] for r in packed.per_edge.collect()
    }
    # build_graph_tables applies the reference's drop-regex; feed the
    # string path the same post-filter edge set so the graphs match
    plain = triangle_counts(spark, edges=edges_df(spark, _post_regex(pairs)))
    got_plain = {
        (r["a"], r["b"]): r["triangles"] for r in plain.per_edge.collect()
    }
    assert got_packed == got_plain
    assert packed.total == plain.total


def test_hits_star_graph(spark):
    from pagerankproject_spark.graph.hits import hits

    # hub h0 links to 4 leaves: h(h0)=1, authority(leaf)=1/2 each
    pairs = [("h0", f"l{i}") for i in range(4)]
    g = _tables(spark, pairs)
    res = hits(spark, g, epsilon=1e-9, max_iterations=50)
    got = {r["url"]: (r["hub"], r["authority"]) for r in res.scores.collect()}
    assert abs(got["h0"][0] - 1.0) < 1e-9
    for i in range(4):
        assert abs(got[f"l{i}"][1] - 0.5) < 1e-9
        assert got[f"l{i}"][0] == 0.0
    assert res.converged


def test_hits_weblike_matches_numpy_oracle(spark):
    from pagerankproject_spark.graph.hits import hits

    pairs = make_weblike(seed=11, n_nodes=60, m_edges=300)
    g = _tables(spark, pairs)
    res = hits(spark, g, epsilon=0.0, max_iterations=30)
    want = oracle.hits_by_url(pairs, epsilon=0.0, max_iterations=30)
    got = {r["url"]: (r["hub"], r["authority"]) for r in res.scores.collect()}
    assert set(got) == set(want)
    for url, (wh, wa) in want.items():
        assert abs(got[url][0] - wh) < 1e-6, (url, got[url][0], wh)
        assert abs(got[url][1] - wa) < 1e-6, (url, got[url][1], wa)


def test_append_edges_equals_full_rebuild(spark):
    from pagerankproject_spark.ingest.edges import append_edges

    base = make_weblike(seed=5, n_nodes=40, m_edges=200)
    delta = [
        ("site.com/article-1", "site.com/brandnew-1"),
        ("site.com/brandnew-1", "site.com/article-2"),
        ("site.com/article-1", "site.com/article-3"),  # touches existing src
        ("site.com/topic/0", "site.com/article-4"),    # regex-dropped
    ]
    g0 = _tables(spark, base)
    g1 = append_edges(spark, g0, edges_df(spark, delta))
    g_full = _tables(spark, base + delta)

    def url_triples(g):
        v = g.vertices
        return sorted(
            (r["s"], r["d"], round(r["weight"], 12))
            for r in g.weighted_edges.join(
                v.select(F.col("id").alias("src_id"), F.col("url").alias("s")),
                "src_id",
            )
            .join(
                v.select(F.col("id").alias("dst_id"), F.col("url").alias("d")),
                "dst_id",
            )
            .select("s", "d", "weight")
            .collect()
        )

    assert g1.n == g_full.n
    assert g1.num_edges == g_full.num_edges
    assert url_triples(g1) == url_triples(g_full)

    # existing ids are stable: every url in g0 keeps its id in g1
    old_ids = dict((r["url"], r["id"]) for r in g0.vertices.collect())
    new_ids = dict((r["url"], r["id"]) for r in g1.vertices.collect())
    for url, i in old_ids.items():
        assert new_ids[url] == i
    g0.unpersist(); g1.unpersist(); g_full.unpersist()


def test_warm_start_after_delta_matches_cold_and_converges_faster(spark):
    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import append_edges

    base = make_weblike(seed=7, n_nodes=50, m_edges=300)
    delta = [
        ("site.com/article-2", "site.com/fresh-1"),
        ("site.com/fresh-1", "site.com/article-9"),
    ]
    g0 = _tables(spark, base)
    r0 = pagerank(spark, g0, epsilon=1e-8, max_iterations=300)

    g1 = append_edges(spark, g0, edges_df(spark, delta))
    warm = pagerank(
        spark,
        g1,
        epsilon=1e-8,
        max_iterations=300,
        x0_ranks=r0.ranks.select("id", "x"),
    )
    cold = pagerank(spark, g1, epsilon=1e-8, max_iterations=300)

    got_w = {r["url"]: r["x"] for r in warm.ranks.collect()}
    got_c = {r["url"]: r["x"] for r in cold.ranks.collect()}
    assert set(got_w) == set(got_c)
    for url, x in got_c.items():
        assert abs(got_w[url] - x) < 1e-6, (url, got_w[url], x)
    assert warm.iterations < cold.iterations  # near-fixpoint start
    g0.unpersist(); g1.unpersist()


def test_kcore_matches_brute_force(spark):
    from pagerankproject_spark.graph.kcore import kcore

    pairs = make_weblike(seed=21, n_nodes=60, m_edges=350)
    g = _tables(spark, pairs)
    res = kcore(spark, g, k=3)
    got = {r["url"]: r["degree"] for r in res.vertices.collect()}
    want = oracle.kcore_vertices(_post_regex(pairs), k=3)
    assert got == want
    assert all(d >= 3 for d in got.values())
    g.unpersist()


def test_bfs_distances_match_brute_force(spark):
    from pagerankproject_spark.graph.kcore import bfs_distances

    pairs = make_weblike(seed=23, n_nodes=50, m_edges=220)
    g = _tables(spark, pairs)
    post = _post_regex(pairs)
    sources = [post[0][0], post[1][1]]
    res = bfs_distances(spark, g, sources=sources)
    got = {r["url"]: r["distance"] for r in res.distances.collect()}
    want = oracle.bfs_distances_by_url(pairs, sources)
    assert got == want
    assert res.converged
    g.unpersist()


def test_append_edges_rejects_filtered_builds(spark):
    """Incremental maintenance is only exact for default-filter builds:
    a ratio/nnz/salt-built GraphTables must fail fast instead of
    silently diverging from a full rebuild (round-1 advice)."""
    import pytest

    from pagerankproject_spark.ingest.edges import append_edges, build_graph_tables

    base = make_weblike(seed=9, n_nodes=30, m_edges=120)
    delta = [("site.com/article-1", "site.com/article-2")]
    for kw in ({"filter_ratio": 0.5}, {"max_nnz": 100}, {"salt_buckets": 4}):
        g = build_graph_tables(spark, edges_df(spark, base), **kw)
        with pytest.raises(ValueError, match="default filters"):
            append_edges(spark, g, edges_df(spark, delta))
        g.unpersist()


def test_append_edges_chained_deltas(spark):
    """Three consecutive delta folds == one full rebuild (repeated
    incremental use must not corrupt weights/ids through the chained
    unions and persists)."""
    from pagerankproject_spark.ingest.edges import append_edges

    base = make_weblike(seed=31, n_nodes=30, m_edges=120)
    deltas = [
        [("site.com/article-1", "site.com/new-a"), ("site.com/new-a", "site.com/article-2")],
        [("site.com/new-b", "site.com/new-a"), ("site.com/article-3", "site.com/article-1")],
        [("site.com/new-b", "site.com/new-c"), ("site.com/new-c", "site.com/article-1")],
    ]
    g = _tables(spark, base)
    acc = list(base)
    for d in deltas:
        g = append_edges(spark, g, edges_df(spark, d))
        acc += d
    g_full = _tables(spark, acc)

    def triples(gt):
        v = gt.vertices
        return sorted(
            (r["s"], r["d"], round(r["weight"], 12))
            for r in gt.weighted_edges.join(
                v.select(F.col("id").alias("src_id"), F.col("url").alias("s")), "src_id"
            ).join(
                v.select(F.col("id").alias("dst_id"), F.col("url").alias("d")), "dst_id"
            ).select("s", "d", "weight").collect()
        )

    assert g.n == g_full.n
    assert triples(g) == triples(g_full)
    g.unpersist(); g_full.unpersist()


def test_selfloops_and_duplicate_edges_match_oracle(spark):
    """Reference semantics: duplicate rows are real links (counted in
    degrees and P) and self-loops are ordinary edges — parity must hold."""
    from pagerankproject_spark.graph.pagerank import pagerank

    pairs = [
        ("a.page", "b.page"), ("a.page", "b.page"),  # duplicate
        ("b.page", "b.page"),                          # self-loop
        ("b.page", "c.page"), ("c.page", "a.page"),
        ("c.page", "a.page"), ("c.page", "c.page"),
    ]
    g = _tables(spark, pairs)
    res = pagerank(spark, g, epsilon=1e-9, max_iterations=300)
    got = {r["url"]: r["x"] for r in res.ranks.collect()}
    want, _ = oracle.pagerank_by_url(pairs, epsilon=1e-9, max_iterations=300)
    for url, w in want.items():
        assert abs(got[url] - w) < 1e-6, (url, got[url], w)
    g.unpersist()


def test_incremental_cc_warm_start_matches_cold_rebuild(spark):
    """Crawl-delta CC maintenance: append_edges + init_labels ==
    cold rebuild on the concatenated edge list. The delta merges two
    previously separate components AND introduces brand-new vertices."""
    from pagerankproject_spark.ingest.edges import append_edges

    base = [
        ("a.page", "b.page"), ("b.page", "c.page"),   # component a
        ("x.page", "y.page"), ("y.page", "z.page"),   # component x
        ("m.page", "n.page"),                          # component m
    ]
    delta = [
        ("c.page", "x.page"),                          # merges a + x
        ("new1.page", "new2.page"),                    # brand-new component
        ("n.page", "n2.page"),                         # grows m
    ]
    g1 = _tables(spark, base)
    cold1 = connected_components(spark, g1)
    g2 = append_edges(spark, g1, edges_df(spark, delta))
    warm = connected_components(spark, g2, init_labels=cold1.components)
    got = {r["url"]: r["component"] for r in warm.components.collect()}

    g_full = _tables(spark, base + delta)
    cold = connected_components(spark, g_full)
    want = {r["url"]: r["component"] for r in cold.components.collect()}
    assert got == want
    assert warm.converged
    g1.unpersist(); g2.unpersist(); g_full.unpersist()


def test_incremental_cc_warm_start_random_deltas(spark):
    """Randomized: split a clustered graph into two halves, maintain
    incrementally, compare against the union-find oracle."""
    pairs, _ = make_clustered_random(seed=17, k_clusters=4, n=120, p_in=0.1)
    cut = len(pairs) // 2
    base, delta = pairs[:cut], pairs[cut:]
    from pagerankproject_spark.ingest.edges import append_edges

    g1 = _tables(spark, base)
    first = connected_components(spark, g1)
    g2 = append_edges(spark, g1, edges_df(spark, delta))
    warm = connected_components(spark, g2, init_labels=first.components)
    got = {r["url"]: r["component"] for r in warm.components.collect()}
    assert got == oracle.connected_components(pairs)
    g1.unpersist(); g2.unpersist()


def test_twophase_cc_matches_oracle_and_propagation(spark):
    """Alternating large-star/small-star CC: identical partition AND
    identical min-url labels vs both the union-find oracle and the
    default min-propagation implementation."""
    from pagerankproject_spark.graph.components import (
        connected_components_twophase,
    )

    pairs, k = make_clustered_random(seed=11, k_clusters=5, n=150, p_in=0.08)
    g = _tables(spark, pairs)
    res = connected_components_twophase(spark, g)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == oracle.connected_components(pairs)
    assert res.converged
    base = connected_components(spark, g)
    assert got == {r["url"]: r["component"] for r in base.components.collect()}
    g.unpersist()


def test_twophase_cc_path_graph_logarithmic_rounds(spark):
    """The reason the algorithm exists: a diameter-D chain costs
    min-propagation ~D iterations but star-contraction O(log^2 D)
    rounds. 200-vertex path: propagation needs ~199 iterations,
    two-phase must finish in far fewer rounds."""
    from pagerankproject_spark.graph.components import (
        connected_components_twophase,
    )

    n = 200
    pairs = [(f"p{i:04d}.x", f"p{i+1:04d}.x") for i in range(n - 1)]
    g = _tables(spark, pairs)
    res = connected_components_twophase(spark, g, max_rounds=20)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert set(got.values()) == {"p0000.x"}
    assert len(got) == n
    assert res.converged
    assert res.iterations <= 12, res.metrics  # log2(200)^2/4 ~ 15; measured ~5
    g.unpersist()


def test_auto_cc_picks_contraction_on_chain(spark, distributed):
    """High-diameter input: the probe's changed-count stays near-flat
    (only the frontier moves on a path), so auto must hand off to star
    contraction and still produce the exact union-find labels in far
    fewer total rounds than the diameter."""
    from pagerankproject_spark.graph.components import connected_components_auto

    n = 200
    pairs = [(f"p{i:04d}.x", f"p{i+1:04d}.x") for i in range(n - 1)]
    g = _tables(spark, pairs)
    res = connected_components_auto(spark, g, probe_rounds=6)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == oracle.connected_components(pairs)
    assert res.converged
    algos = {m["algo"] for m in res.metrics}
    assert "twophase" in algos, res.metrics
    assert res.iterations <= 25, res.metrics  # vs ~199 propagation rounds
    g.unpersist()


def test_auto_cc_stays_minlabel_on_low_diameter(spark, distributed):
    """Low-diameter input: propagation converges inside the probe (or
    its changed-count collapses), so auto never pays the contraction
    rounds and the output is still exact."""
    from pagerankproject_spark.graph.components import connected_components_auto

    pairs, k = make_clustered_random(seed=11, k_clusters=5, n=150, p_in=0.08)
    g = _tables(spark, pairs)
    res = connected_components_auto(spark, g)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == oracle.connected_components(pairs)
    assert res.converged
    assert {m["algo"] for m in res.metrics} == {"minlabel"}, res.metrics
    g.unpersist()


def test_auto_cc_warm_start_branch_exact(spark, distributed):
    """Mid case: not converged inside a tiny probe but decaying — auto
    continues min-label from the probe's labels (init_labels path) and
    the result is still exact with no contraction rounds."""
    from pagerankproject_spark.graph.components import connected_components_auto

    pairs, k = make_clustered_random(seed=7, k_clusters=3, n=120, p_in=0.06)
    g = _tables(spark, pairs)
    res = connected_components_auto(
        spark, g, probe_rounds=1, decay_threshold=1.1
    )
    # decay_threshold > 1 forces the propagate branch even when flat
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == oracle.connected_components(pairs)
    assert res.converged
    assert {m["algo"] for m in res.metrics} == {"minlabel"}
    g.unpersist()


def test_twophase_cc_two_components_and_selfloops(spark):
    from pagerankproject_spark.graph.components import (
        connected_components_twophase,
    )

    g = _tables(spark, TWO_COMPONENTS_EDGES + [("a", "a")])
    res = connected_components_twophase(spark, g)
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}
    g.unpersist()


def test_random_walks_structure_and_determinism(spark):
    """Walk corpus: correct counts, every step follows a real edge,
    dangling vertices stop walks early, and the output is identical
    across partitionings and reruns (md5-derived choices, no RNG)."""
    from pagerankproject_spark.graph.walks import random_walks

    pairs = [
        ("a.x", "b.x"), ("a.x", "c.x"), ("b.x", "c.x"),
        ("c.x", "a.x"), ("c.x", "d.x"), ("e.x", "a.x"),
    ]  # d.x is dangling
    e = edges_df(spark, pairs)
    out = random_walks(e, walk_length=5, walks_per_vertex=3)
    rows = [(r["walk_id"], r["step"], r["url"]) for r in out.collect()]

    walks: dict[str, dict[int, str]] = {}
    for wid, step, url in rows:
        walks.setdefault(wid, {})[step] = url
    assert len(walks) == 5 * 3  # every vertex starts walks_per_vertex walks
    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
    for wid, steps in walks.items():
        start = wid.rsplit("#", 1)[0]
        assert steps[0] == start
        seq = [steps[i] for i in sorted(steps)]
        assert sorted(steps) == list(range(len(seq)))  # contiguous, stops once
        for u, v in zip(seq, seq[1:]):
            assert v in adj[u], (wid, u, v)
        # walks end only at full length or at a dangling vertex
        if len(seq) < 6:
            assert seq[-1] not in adj, (wid, seq)

    again = sorted(
        map(tuple, random_walks(e.repartition(7), 5, 3).collect())
    )
    assert again == sorted(rows)


def test_random_walks_dense_id_corpus_identical(spark):
    """The dense-id loop (g=GraphTables, long join keys, single emit
    translation) produces the row-identical corpus to the string loop:
    same hash inputs, same dst-url neighbor ranking."""
    from pagerankproject_spark.graph.walks import random_walks

    pairs = [
        ("a.x", "b.x"), ("a.x", "c.x"), ("b.x", "c.x"),
        ("c.x", "a.x"), ("c.x", "d.x"), ("e.x", "a.x"),
        ("b.x", "a.x"), ("d.x", "d.x"),  # self-loop-only continuation
    ]
    e = edges_df(spark, pairs)
    by_str = sorted(map(tuple, random_walks(e, 5, 3).collect()))
    g = _tables(spark, pairs)
    by_id = sorted(map(tuple, random_walks(g=g, walk_length=5, walks_per_vertex=3).collect()))
    assert by_id == by_str
    g.unpersist()

    import pytest

    with pytest.raises(ValueError):
        random_walks(e, g=g)
    with pytest.raises(ValueError):
        random_walks()


def test_degree_assortativity_star_and_cycle(spark):
    """Star graph: every edge joins a degree-n hub to a degree-1 leaf
    -> assortativity -1. Cycle: all degrees equal -> undefined (0/0,
    null). Mixed fixture checked against a numpy Pearson oracle."""
    import numpy as np

    from pagerankproject_spark.graph.metrics import degree_assortativity

    star = [("hub.x", f"leaf{i}.x") for i in range(6)]
    row = degree_assortativity(edges_df(spark, star)).collect()[0]
    assert row["n_pairs"] == 12
    assert abs(row["assortativity"] - (-1.0)) < 1e-9

    cyc = [(f"c{i}.x", f"c{(i+1)%5}.x") for i in range(5)]
    row = degree_assortativity(edges_df(spark, cyc)).collect()[0]
    assert row["assortativity"] is None  # zero variance -> 0/0

    pairs, _ = make_clustered_random(seed=5, k_clusters=3, n=80, p_in=0.15)
    row = degree_assortativity(edges_df(spark, pairs)).collect()[0]
    # numpy oracle over the same symmetrized multiset
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    deg: dict[str, int] = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in und:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    want = np.corrcoef(xs, ys)[0, 1]
    assert abs(row["assortativity"] - want) < 1e-6, (row, want)


def _python_ktruss(pairs, k):
    """Brute-force peel oracle: (edge -> in-truss support) dict."""
    edges = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    while True:
        adj: dict[str, set[str]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        support = {
            (a, b): len(adj[a] & adj[b]) for a, b in edges
        }
        drop = {e for e, s in support.items() if s < k - 2}
        if not drop:
            return support
        edges -= drop


def test_ktruss_hand_and_random(spark):
    from pagerankproject_spark.graph.triangles import ktruss

    # K4 plus a pendant triangle and a tail: the 4-truss is exactly K4
    k4 = [(a, b) for i, a in enumerate("abcd") for b in "abcd"[i + 1:]]
    pairs = [(f"{x}.x", f"{y}.x") for x, y in k4] + [
        ("d.x", "e.x"), ("e.x", "f.x"), ("d.x", "f.x"),  # triangle d-e-f
        ("f.x", "tail.x"),
    ]
    g = _tables(spark, pairs)
    res = ktruss(spark, g, k=4)
    got = {(r["a"], r["b"]): r["support"] for r in res.edges.collect()}
    assert res.converged
    assert got == {
        (f"{x}.x", f"{y}.x"): 2 for x, y in k4
    }  # every K4 edge closes 2 triangles; d-e-f and the tail peel away

    # k=3 keeps both cliques' triangles, drops only the tail
    res3 = ktruss(spark, g, k=3)
    got3 = {(r["a"], r["b"]): r["support"] for r in res3.edges.collect()}
    want3 = {
        (min(a, b), max(a, b)): s
        for (a, b), s in _python_ktruss(pairs, 3).items()
    }
    assert got3 == want3
    assert ("f.x", "tail.x") not in got3

    pairs2, _ = make_clustered_random(seed=29, k_clusters=3, n=90, p_in=0.25)
    g2 = _tables(spark, pairs2)
    for k in (3, 4, 5):
        res_r = ktruss(spark, g2, k=k)
        got_r = {(r["a"], r["b"]): r["support"] for r in res_r.edges.collect()}
        assert got_r == _python_ktruss(pairs2, k), f"k={k}"
        assert res_r.converged
    # both per-round forms (small-graph recount vs delta-maintained
    # supports) produce identical iterates: force the delta form with
    # recount_floor=0 and require the identical fixpoint + round count
    res_delta = ktruss(spark, g2, k=4, recount_floor=0)
    got_delta = {
        (r["a"], r["b"]): r["support"] for r in res_delta.edges.collect()
    }
    res_rec = ktruss(spark, g2, k=4, recount_floor=10**9)
    got_rec = {(r["a"], r["b"]): r["support"] for r in res_rec.edges.collect()}
    assert got_delta == got_rec == _python_ktruss(pairs2, 4)
    assert res_delta.rounds == res_rec.rounds
    g.unpersist(); g2.unpersist()


def _python_trussness(pairs):
    """Peel oracle: trussness(e) = max k with e in the k-truss."""
    edges = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    truss = {e: 2 for e in edges}
    cur, k = set(edges), 3
    while cur:
        while True:
            adj: dict[str, set[str]] = {}
            for a, b in cur:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            drop = {e for e in cur if len(adj[e[0]] & adj[e[1]]) < k - 2}
            if not drop:
                break
            cur -= drop
        for e in cur:
            truss[e] = k
        k += 1
    return truss


def test_trussness_hand_and_random(spark):
    from pagerankproject_spark.graph.triangles import trussness

    # K4 + pendant triangle + tail: K4 edges are 4-truss, the d-e-f
    # triangle (and K4-adjacent triangle edges) 3, the tail edge 2.
    k4 = [(a, b) for i, a in enumerate("abcd") for b in "abcd"[i + 1:]]
    pairs = [(f"{x}.x", f"{y}.x") for x, y in k4] + [
        ("d.x", "e.x"), ("e.x", "f.x"), ("d.x", "f.x"),
        ("f.x", "tail.x"),
    ]
    g = _tables(spark, pairs)
    res = trussness(spark, g)
    got = {(r["a"], r["b"]): r["trussness"] for r in res.edges.collect()}
    assert res.converged
    assert got == _python_trussness(pairs)
    assert got[("f.x", "tail.x")] == 2

    # random clustered graph: h-index fixpoint == peel decomposition,
    # and the membership view agrees with ktruss at every k
    pairs2, _ = make_clustered_random(seed=31, k_clusters=3, n=90, p_in=0.25)
    g2 = _tables(spark, pairs2)
    res_r = trussness(spark, g2)
    assert res_r.converged
    got_r = {(r["a"], r["b"]): r["trussness"] for r in res_r.edges.collect()}
    want_r = _python_trussness(pairs2)
    assert got_r == want_r
    for k in (3, 4, 5):
        member = {e for e, t in got_r.items() if t >= k}
        assert member == set(_python_ktruss(pairs2, k)), f"k={k}"
    g.unpersist(); g2.unpersist()


def test_katz_centrality_matches_numpy(spark):
    import numpy as np

    from pagerankproject_spark.graph.metrics import katz_centrality

    pairs = [("a.x", "b.x"), ("a.x", "b.x"), ("b.x", "c.x"), ("c.x", "a.x"),
             ("d.x", "a.x"), ("d.x", "c.x")]
    g = _tables(spark, pairs)
    got = {r["url"]: r["katz"] for r in katz_centrality(spark, g, alpha=0.1, iterations=8).collect()}

    urls = sorted({u for p in pairs for u in p})
    idx = {u: i for i, u in enumerate(urls)}
    A = np.zeros((len(urls), len(urls)))
    for s, d in pairs:
        A[idx[s], idx[d]] += 1.0  # multiplicity counts
    x = np.ones(len(urls))
    for _ in range(8):
        x = 1.0 + 0.1 * (A.T @ x)
    for u in urls:
        assert abs(got[u] - round(x[idx[u]], 6)) < 1e-9, (u, got[u], x[idx[u]])
    g.unpersist()


def test_eigenvector_centrality_matches_numpy(spark):
    import numpy as np

    from pagerankproject_spark.graph.metrics import eigenvector_centrality

    pairs = [("a.x", "b.x"), ("a.x", "b.x"), ("b.x", "c.x"), ("c.x", "a.x"),
             ("d.x", "a.x"), ("d.x", "c.x")]
    g = _tables(spark, pairs)
    got = {
        r["url"]: r["eigenvector"]
        for r in eigenvector_centrality(spark, g, iterations=6).collect()
    }

    urls = sorted({u for p in pairs for u in p})
    idx = {u: i for i, u in enumerate(urls)}
    A = np.zeros((len(urls), len(urls)), dtype=np.int64)
    for s, d in pairs:
        A[idx[s], idx[d]] += 1  # multiplicity counts
    x = np.ones(len(urls), dtype=np.int64)
    for _ in range(6):
        x = A.T @ x  # exact integer walk counts
    mx = int(x.max())
    for u in urls:
        want = round(int(x[idx[u]]) / mx, 6)
        assert abs(got[u] - want) < 1e-9, (u, got[u], want)
    # d.x has no in-edges: all its walk counts are 0 -> score exactly 0
    assert got["d.x"] == 0.0
    g.unpersist()


def test_eigenvector_centrality_shallow_dag_is_null(spark):
    """A depth-2 DAG has no 6-walks: max(x)=0 must yield NULL scores
    (not a division error), matching the oracle's nullif guard."""
    from pagerankproject_spark.graph.metrics import eigenvector_centrality

    g = _tables(spark, [("a.x", "b.x"), ("b.x", "c.x")])
    rows = eigenvector_centrality(spark, g, iterations=6).collect()
    assert len(rows) == 3
    assert all(r["eigenvector"] is None for r in rows)
    g.unpersist()


def test_khop_subgraph_matches_brute_force(spark):
    from pagerankproject_spark.graph.kcore import khop_subgraph
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    pairs = [
        (f"site.com/p{i}", f"site.com/p{(i * 3 + j) % 25}")
        for i in range(25)
        for j in range(1, 3)
    ]
    g = build_graph_tables(spark, edges_df(spark, pairs))
    seeds, k = ["site.com/p0"], 2

    simple = {(s, d) for s, d in pairs if s != d}
    adj = {}
    for s, d in simple:
        adj.setdefault(s, set()).add(d)
    ball = set(seeds)
    for _ in range(k):
        ball |= {d for w in list(ball) for d in adj.get(w, ())}
    expect = sorted((s, d) for s, d in simple if s in ball and d in ball)

    got = sorted(
        (r["src"], r["dst"])
        for r in khop_subgraph(spark, g, seeds, k=k).collect()
    )
    assert got == expect
    assert 0 < len(got) < len(simple)  # a proper subgraph

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no seed url"):
        khop_subgraph(spark, g, ["site.com/absent"], k=1)


def test_sssp_weighted_matches_dijkstra(spark):
    import heapq

    from pagerankproject_spark.graph.kcore import sssp_weighted

    w_edges = [
        ("a", "b", 0.5), ("b", "c", 0.25), ("a", "c", 1.0), ("c", "a", 0.1),
        ("c", "d", 2.0), ("x", "y", 0.3),  # x,y unreachable from a
        ("a", "a", 9.9),                   # self-loop dropped
    ]
    df = spark.createDataFrame(w_edges, "src string, dst string, w double")
    res = sssp_weighted(spark, df, "a")
    assert res.converged
    got = {r["url"]: r["dist"] for r in res.distances.collect()}

    adj = {}
    for s, d, w in w_edges:
        if s != d and w > 0:
            adj.setdefault(s, []).append((d, w))
    dist, pq = {"a": 0.0}, [(0.0, "a")]
    while pq:
        du, u = heapq.heappop(pq)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, ()):
            nd = du + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    assert got == dist  # bit-exact: same float additions
    assert "x" not in got and "y" not in got  # unreachable omitted

    import pytest as _pytest

    with _pytest.raises(ValueError, match="source url"):
        sssp_weighted(spark, df, "nope")


def test_betweenness_sampled_matches_pair_dependency_brute_force(spark):
    from collections import deque

    from pagerankproject_spark.graph.betweenness import betweenness_sampled
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    edges = [
        ("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "a"), ("b", "d"),
        ("d", "e"), ("e", "a"),
    ]
    nodes = sorted({x for e in edges for x in e})
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)

    def bfs_sigma(s):
        dist, sigma, q = {s: 0}, {s: 1}, deque([s])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    sigma[v] = 0
                    q.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
        return dist, sigma

    sources = ["a", "b"]
    expect = {v: 0.0 for v in nodes}
    for s in sources:
        ds, ss = bfs_sigma(s)
        for v in nodes:
            if v == s or v not in ds:
                continue
            dv, sv = bfs_sigma(v)
            for t in nodes:
                if t in (s, v) or t not in dv or t not in ds:
                    continue
                if ds[v] + dv[t] == ds[t]:
                    expect[v] += ss[v] * sv[t] / ss[t]
    expect = {v: round(x, 6) for v, x in expect.items()}

    g = build_graph_tables(spark, edges_df(spark, edges))
    got = {
        r["url"]: r["bc"]
        for r in betweenness_sampled(spark, g, sources).collect()
    }
    assert got == expect


def test_closeness_sampled_matches_brute_force_bfs(spark):
    from collections import deque

    from pagerankproject_spark.graph.betweenness import closeness_sampled
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    edges = [
        ("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "a"), ("b", "d"),
        ("d", "e"), ("e", "a"), ("f", "a"),  # f unreachable from the sample
    ]
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)

    def bfs(s):
        dist, q = {s: 0}, deque([s])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    sources = ["a", "b"]
    per_v: dict[str, tuple[int, int]] = {}
    for s in sources:
        for v, d in bfs(s).items():
            n, t = per_v.get(v, (0, 0))
            per_v[v] = (n + 1, t + d)
    expect = {
        v: (n, t, (n / t if t > 0 else None)) for v, (n, t) in per_v.items()
    }

    g = build_graph_tables(spark, edges_df(spark, edges))
    got = {
        r["url"]: (r["n_sources"], r["dist_total"], r["closeness_est"])
        for r in closeness_sampled(spark, g, sources).collect()
    }
    assert got == expect
    assert "f" not in got  # nothing reaches f
    # every vertex reached only at distance 0 has NULL score: none here
    # (both sources reach each other), but the guard is the 'a'-only case
    single = {
        r["url"]: r["closeness_est"]
        for r in closeness_sampled(spark, g, ["f"]).collect()
    }
    assert single["f"] is None  # seed reached only by itself at d=0


def test_betweenness_guards_depth_cap_and_missing_sources(spark):
    import pytest as _pytest

    from pagerankproject_spark.graph.betweenness import betweenness_sampled
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    chain = [(f"site.com/p{i}", f"site.com/p{i+1}") for i in range(9)]
    g = build_graph_tables(spark, edges_df(spark, chain))
    # frontier alive past the cap must raise, not silently truncate
    with _pytest.raises(ValueError, match="max_depth"):
        betweenness_sampled(spark, g, ["site.com/p0"], max_depth=4)
    # a partially-resolved sample must raise, not silently shrink
    with _pytest.raises(ValueError, match="source urls"):
        betweenness_sampled(spark, g, ["site.com/p0", "site.com/absent"])
    # exact depth boundary is fine (chain needs 9 levels)
    out = betweenness_sampled(spark, g, ["site.com/p0"], max_depth=9)
    got = {r["url"]: r["bc"] for r in out.collect()}
    # on a chain from p0: bc(p_i) = number of (s,t) pairs through it = 8-i+... = paths p0->t for t>i
    assert got["site.com/p1"] == 8.0


def test_coreness_known_fixture(spark):
    """4-clique (core 3) + a tail path (core 1) + a pendant off the
    clique (core 1): hand-checkable core numbers."""
    from pagerankproject_spark.graph.kcore import coreness

    clique = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    ]
    tail = [("d", "e"), ("e", "f")]
    pendant = [("a", "g")]
    g = _tables(spark, clique + tail + pendant)
    res = coreness(spark, g)
    got = {r["url"]: r["coreness"] for r in res.vertices.collect()}
    assert got == {
        "a": 3, "b": 3, "c": 3, "d": 3, "e": 1, "f": 1, "g": 1,
    }
    assert res.converged
    g.unpersist()


def test_coreness_weblike_matches_peel_oracle(spark):
    """h-index fixpoint == Matula-Beck peel on a weblike graph, and the
    k-core membership it implies agrees with the kcore() operator."""
    from pagerankproject_spark.graph.kcore import coreness, kcore

    pairs = make_weblike(seed=31, n_nodes=80, m_edges=500)
    g = _tables(spark, pairs)
    res = coreness(spark, g)
    got = {r["url"]: r["coreness"] for r in res.vertices.collect()}
    want = oracle.coreness_by_url(_post_regex(pairs))
    # engine's vertex set comes from g.vertices (post-regex edges)
    assert got == want
    assert res.converged
    k3 = set(kcore(spark, g, k=3).vertices.toPandas()["url"])
    assert k3 == {u for u, c in got.items() if c >= 3}
    g.unpersist()


def _densest_replay(pairs, eps_num=1, eps_den=2):
    """Literal python replay of the integer-exact batched greedy peel."""
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    alive = {v for e in und for v in e}
    thr = 2 * (eps_den + eps_num)
    best = (0, 0, set())  # (e, n, members)
    while True:
        n, e = len(alive), len(und)
        if e == 0:
            break
        if e * best[1] > best[0] * n or best[0] == 0:
            best = (e, n, set(alive))
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        victims = {v for v in alive if deg.get(v, 0) * n * eps_den <= thr * e}
        alive -= victims
        und = {(a, b) for a, b in und if a not in victims and b not in victims}
    e, n, members = best
    return members, e / n


def test_densest_subgraph_matches_python_replay(spark):
    from pagerankproject_spark.graph.densest import densest_subgraph
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    # K5 clique (density 2.0) + a 12-path + bridges + noise
    k5 = [(f"k{i}", f"k{j}") for i in range(5) for j in range(i + 1, 5)]
    path = [(f"p{i}", f"p{i+1}") for i in range(12)]
    bridge = [("k0", "p0"), ("p12", "k3"), ("x", "k1"), ("x", "x")]
    pairs = k5 + path + bridge
    want_members, want_density = _densest_replay(pairs)
    assert want_members == {f"k{i}" for i in range(5)}  # sanity: K5 wins
    assert want_density == 2.0

    g = build_graph_tables(spark, edges_df(spark, pairs))
    res = densest_subgraph(spark, g)
    got = {r["url"] for r in res.members.collect()}
    dens = {r["density"] for r in res.members.collect()}
    assert got == want_members
    assert dens == {want_density}
    assert (res.e, res.n) == (10, 5)

    # edgeless simple graph must fail fast
    import pytest as _pytest

    g2 = build_graph_tables(spark, edges_df(spark, [("a", "b")]))
    # single edge: densest is the pair, density 1/2
    res2 = densest_subgraph(spark, g2)
    assert {r["url"] for r in res2.members.collect()} == {"a", "b"}
    assert res2.e == 1 and res2.n == 2
    with _pytest.raises(ValueError, match="no non-loop|no edges"):
        densest_subgraph(
            spark, build_graph_tables(spark, edges_df(spark, [("a", "a")]))
        )


def test_densest_subgraph_random_graph_replay(spark):
    from pagerankproject_spark.graph.densest import densest_subgraph
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    import hashlib

    # deterministic pseudo-random graph (md5 edges)
    pairs = []
    for i in range(220):
        h = int(hashlib.md5(f"dense{i}".encode()).hexdigest()[:12], 16)
        pairs.append((f"v{h % 37}", f"v{(h // 37) % 37}"))
    want_members, want_density = _densest_replay(pairs)
    g = build_graph_tables(spark, edges_df(spark, pairs))
    res = densest_subgraph(spark, g)
    assert {r["url"] for r in res.members.collect()} == want_members
    assert res.e / res.n == want_density


def _mis_replay(pairs):
    """Literal python replay of the fixed-priority Luby rounds."""
    import hashlib

    def pri(v):
        return (int(hashlib.md5(v.encode()).hexdigest()[:15], 16), v)

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    mis = {}
    r = 0
    while alive:
        winners = {
            v
            for v in alive
            if not (adj[v] & alive)
            or pri(v) < min(pri(u) for u in adj[v] & alive)
        }
        for v in winners:
            mis[v] = r
        dead = set(winners)
        for v in winners:
            dead |= adj[v] & alive
        alive -= dead
        r += 1
    return mis


def test_luby_mis_matches_replay_and_invariants(spark):
    from pagerankproject_spark.graph.mis import luby_mis

    pairs = make_weblike(seed=13, n_nodes=80, m_edges=400)
    post = _post_regex(pairs)
    res = luby_mis(spark, edges_df(spark, post))
    got = {r["url"]: r["mis_round"] for r in res.members.collect()}
    assert got == _mis_replay(post)

    und = {tuple(sorted(p)) for p in post if p[0] != p[1]}
    members = set(got)
    # independence: no edge inside the set
    assert not any(a in members and b in members for a, b in und)
    # maximality: every non-member vertex has a member neighbor
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v in adj:
        if v not in members:
            assert adj[v] & members, v

    # a path graph: alternating-ish set, still independent + maximal
    chain = [(f"c{i}", f"c{i+1}") for i in range(20)]
    got2 = {
        r["url"]: r["mis_round"]
        for r in luby_mis(spark, edges_df(spark, chain)).members.collect()
    }
    assert got2 == _mis_replay(chain)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no edges"):
        luby_mis(spark, edges_df(spark, [("a", "a")]))


def _coloring_replay(pairs):
    """Literal python replay of fixed-priority Jones-Plassmann."""
    import hashlib

    def pri(v):
        return (int(hashlib.md5(v.encode()).hexdigest()[:15], 16), v)

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    unc, colors = set(adj), {}
    while unc:
        winners = {
            v
            for v in unc
            if not (adj[v] & unc)
            or pri(v) < min(pri(u) for u in adj[v] & unc)
        }
        newc = {}
        for v in winners:
            used = {colors[u] for u in adj[v] if u in colors}
            c = 0
            while c in used:
                c += 1
            newc[v] = c
        colors.update(newc)
        unc -= winners
    return colors, adj


def test_greedy_coloring_matches_replay_and_is_proper(spark):
    from pagerankproject_spark.graph.coloring import greedy_coloring

    pairs = make_weblike(seed=17, n_nodes=80, m_edges=400)
    post = _post_regex(pairs)
    res = greedy_coloring(spark, edges_df(spark, post))
    got = {r["url"]: r["color"] for r in res.colors.collect()}
    want, adj = _coloring_replay(post)
    assert got == want
    # proper: no edge joins two equal colors; greedy bound: color <= deg
    for v, nbrs in adj.items():
        assert all(got[v] != got[u] for u in nbrs)
        assert got[v] <= len(nbrs)

    # a path graph: greedy uses at most maxdeg+1 = 3 colors, proper
    chain = [(f"c{i}", f"c{i+1}") for i in range(20)]
    got2 = {
        r["url"]: r["color"]
        for r in greedy_coloring(spark, edges_df(spark, chain)).colors.collect()
    }
    want2, _ = _coloring_replay(chain)
    assert got2 == want2
    assert set(got2.values()) <= {0, 1, 2}
    assert all(got2[f"c{i}"] != got2[f"c{i+1}"] for i in range(20))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no edges"):
        greedy_coloring(spark, edges_df(spark, [("a", "a")]))


def _matching_replay(pairs):
    """Literal python replay of fixed-priority local-dominant matching."""
    import hashlib

    def epri(a, b):
        return (
            int(hashlib.md5((a + "|" + b).encode()).hexdigest()[:15], 16), a, b
        )

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    edges = {e: epri(*e) for e in und}
    matched, r = {}, 0
    while edges:
        vmin = {}
        for e, pe in edges.items():
            for v in e:
                if v not in vmin or pe < vmin[v]:
                    vmin[v] = pe
        winners = [
            e for e, pe in edges.items()
            if vmin[e[0]] == pe and vmin[e[1]] == pe
        ]
        for e in winners:
            matched[e] = r
        used = {v for e in winners for v in e}
        edges = {
            e: p for e, p in edges.items()
            if e[0] not in used and e[1] not in used
        }
        r += 1
    return matched, und


def test_maximal_matching_matches_replay_and_invariants(spark):
    from pagerankproject_spark.graph.matching import maximal_matching

    pairs = make_weblike(seed=19, n_nodes=80, m_edges=400)
    post = _post_regex(pairs)
    res = maximal_matching(spark, edges_df(spark, post))
    got = {(r["a"], r["b"]): r["match_round"] for r in res.pairs.collect()}
    want, und = _matching_replay(post)
    assert got == want
    # matching: vertex-disjoint pairs
    used = [v for e in got for v in e]
    assert len(used) == len(set(used))
    # maximality: every simple edge has a matched endpoint
    assert all(a in set(used) or b in set(used) for a, b in und)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no edges"):
        maximal_matching(spark, edges_df(spark, [("a", "a")]))


def test_coarsen_graph_matches_replay_and_conserves_edges(spark):
    from pagerankproject_spark.graph.matching import coarsen_graph

    pairs = make_weblike(seed=23, n_nodes=80, m_edges=400)
    post = _post_regex(pairs)
    matched, und = _matching_replay(post)
    smap = {}
    for a, b in matched:
        smap[a] = a
        smap[b] = a
    want = {}
    for a, b in und:
        u, w = smap.get(a, a), smap.get(b, b)
        if u != w:
            k = (min(u, w), max(u, w))
            want[k] = want.get(k, 0) + 1
    got = {
        (r["sa"], r["sb"]): r["weight"]
        for r in coarsen_graph(spark, edges_df(spark, post)).collect()
    }
    assert got == want
    # every matched pair's own edge became internal; the rest survive
    assert sum(got.values()) == len(und) - len(matched)


def _palette_replay(pairs):
    """Literal python replay of the per-round hash trial coloring."""
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(s) for v, s in adj.items()}
    unc, colors, r = set(adj), {}, 0
    while unc:
        pick = {v: h60(f"{v}#{r}") % (deg[v] + 1) for v in unc}
        win = {}
        for v in unc:
            if any(colors.get(u) == pick[v] for u in adj[v]):
                continue
            if any(u in unc and pick[u] == pick[v] for u in adj[v]):
                continue
            win[v] = pick[v]
        colors.update(win)
        unc -= set(win)
        r += 1
        assert r < 200
    return colors, adj, deg


def test_palette_coloring_matches_replay_and_bounds(spark):
    from pagerankproject_spark.graph.coloring import palette_coloring

    pairs = make_weblike(seed=29, n_nodes=80, m_edges=400)
    post = _post_regex(pairs)
    res = palette_coloring(spark, edges_df(spark, post))
    got = {r["url"]: r["color"] for r in res.colors.collect()}
    want, adj, deg = _palette_replay(post)
    assert got == want
    # proper + per-vertex (deg+1) palette bound
    for v, nbrs in adj.items():
        assert all(got[v] != got[u] for u in nbrs)
        assert 0 <= got[v] <= deg[v]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no edges"):
        palette_coloring(spark, edges_df(spark, [("a", "a")]))


def test_functional_rooting_replay_chain_and_cycle(spark):
    from pagerankproject_spark.graph.pointers import functional_rooting

    # derived functional map from the weblike fixture: min outlink
    pairs = make_weblike(seed=37, n_nodes=80, m_edges=400)
    post = _post_regex(pairs)
    nxt = {}
    for s, t in post:
        nxt[s] = min(nxt.get(s, t), t)

    def orbit_min(v):
        seen, cur, best = {v}, v, v
        while cur in nxt:
            cur = nxt[cur]
            best = min(best, cur)
            if cur in seen:
                break
            seen.add(cur)
        return best

    want = {v: orbit_min(v) for v in set(nxt) | set(nxt.values())}
    ptr = spark.createDataFrame(sorted(nxt.items()), ["v", "nxt"])
    res = functional_rooting(spark, ptr)
    got = {r["url"]: r["canonical"] for r in res.canonical.collect()}
    assert got == want

    # 1000-hop descending chain (c1000 -> ... -> c0000): every vertex's
    # orbit min is the terminal; resolves in <= ceil(log2(1000)) + 1 =
    # 11 doubling rounds, NOT 1000 hop rounds
    chain = spark.createDataFrame(
        [(f"c{i+1:04d}", f"c{i:04d}") for i in range(1000)], ["v", "nxt"]
    )
    res2 = functional_rooting(spark, chain)
    got2 = {r["url"]: r["canonical"] for r in res2.canonical.collect()}
    assert set(got2.values()) == {"c0000"}
    assert res2.rounds <= 11

    # pure 3-cycle: every member canonicalizes to the cycle min
    cyc = spark.createDataFrame(
        [("x2", "x0"), ("x0", "x1"), ("x1", "x2")], ["v", "nxt"]
    )
    got3 = {
        r["url"]: r["canonical"]
        for r in functional_rooting(spark, cyc).canonical.collect()
    }
    assert got3 == {"x0": "x0", "x1": "x0", "x2": "x0"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not functional"):
        functional_rooting(
            spark, spark.createDataFrame([("a", "b"), ("a", "c")], ["v", "nxt"])
        )


def _weighted_matching_replay(wtriples):
    """Literal python replay of the locally-heaviest rounds."""
    import hashlib

    def epri(a, b, w):
        return (
            -w,
            int(hashlib.md5((a + "|" + b).encode()).hexdigest()[:15], 16),
            a,
            b,
        )

    eds = {(a, b): epri(a, b, w) for a, b, w in wtriples}
    matched, r = {}, 0
    while eds:
        vmin = {}
        for e, pe in eds.items():
            for v in e:
                if v not in vmin or pe < vmin[v]:
                    vmin[v] = pe
        winners = [
            e for e, pe in eds.items()
            if vmin[e[0]] == pe and vmin[e[1]] == pe
        ]
        for e in winners:
            matched[e] = r
        used = {v for e in winners for v in e}
        eds = {
            e: p for e, p in eds.items()
            if e[0] not in used and e[1] not in used
        }
        r += 1
    return matched


def test_weighted_matching_replay_and_heaviest_first(spark):
    from collections import Counter

    from pagerankproject_spark.graph.matching import weighted_matching

    pairs = make_weblike(seed=41, n_nodes=80, m_edges=400)
    post = _post_regex(pairs)
    mult = Counter(
        (min(s, t), max(s, t)) for s, t in post if s != t
    )
    wtriples = [(a, b, w) for (a, b), w in mult.items()]
    df = spark.createDataFrame(wtriples, "a string, b string, w long")
    res = weighted_matching(spark, df)
    got = {(r["a"], r["b"]): r["match_round"] for r in res.pairs.collect()}
    assert got == _weighted_matching_replay(wtriples)
    used = [v for e in got for v in e]
    assert len(used) == len(set(used))  # vertex-disjoint

    # hand fixture: the heavier edge of a path wins regardless of hash
    path = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 3)], "a string, b string, w long"
    )
    got2 = {
        (r["a"], r["b"]) for r in weighted_matching(spark, path).pairs.collect()
    }
    assert got2 == {("a", "b")}


def test_luby_mis_dense_id_mode_exact_match(spark):
    """The dense-id loop (g=) returns BIT-identical members and round
    numbers to the url-space loop — the priority payload is frozen
    from urls, only the join keys change."""
    from pagerankproject_spark.graph.mis import luby_mis

    pairs = make_weblike(seed=13, n_nodes=80, m_edges=400)
    url_mode = luby_mis(spark, edges_df(spark, _post_regex(pairs)))
    g = _tables(spark, pairs)
    dense_mode = luby_mis(spark, g=g)
    a = {r["url"]: r["mis_round"] for r in url_mode.members.collect()}
    b = {r["url"]: r["mis_round"] for r in dense_mode.members.collect()}
    assert a == b
    assert url_mode.rounds == dense_mode.rounds

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        luby_mis(spark)
    g.unpersist()


def _boruvka_replay(wtriples):
    """Literal python replay of the priority-ordered Boruvka rounds."""
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    pe = {(a, b): (w, h60(a + "|" + b), a, b) for a, b, w in wtriples}
    comp = {v: v for e in pe for v in e}
    forest, r = {}, 0
    while True:
        live = {e: p for e, p in pe.items() if comp[e[0]] != comp[e[1]]}
        if not live:
            break
        picks = {}
        for (a, b), p in live.items():
            for cv in (comp[a], comp[b]):
                if cv not in picks or p < picks[cv][1]:
                    picks[cv] = ((a, b), p)
        chosen = {e for e, _ in picks.values()}
        for e in chosen:
            forest[e] = r
        parent = {c: c for c in set(comp.values())}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for a, b in chosen:
            ra, rb = find(comp[a]), find(comp[b])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {v: find(c) for v, c in comp.items()}
        r += 1
    return forest, comp, r


def test_boruvka_msf_matches_replay_and_kruskal(spark):
    from collections import Counter

    from pagerankproject_spark.graph.mst import boruvka_msf

    pairs = make_weblike(seed=43, n_nodes=80, m_edges=400)
    post = _post_regex(pairs)
    mult = Counter((min(s, t), max(s, t)) for s, t in post if s != t)
    wtriples = [(a, b, w) for (a, b), w in mult.items()]
    # adversarial sorted-weight chain: the hook-and-jump contraction
    # must stay O(log), and the forest must still be exact
    wtriples += [(f"q{i:02d}", f"q{i+1:02d}", 1000 + i) for i in range(30)]
    want_forest, want_comp, want_rounds = _boruvka_replay(wtriples)

    df = spark.createDataFrame(wtriples, "a string, b string, w long")
    res = boruvka_msf(spark, df)
    got = {(r["a"], r["b"]): r["msf_round"] for r in res.forest.collect()}
    assert got == want_forest
    assert res.rounds == want_rounds
    gc = {r["url"]: r["component"] for r in res.components.collect()}
    assert gc == want_comp
    # forest size = n - #components; weight matches tie-broken Kruskal
    n = len({v for e in wtriples for v in e[:2]})
    assert len(got) == n - len(set(want_comp.values()))
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    kw = 0
    for a, b, w in sorted(
        wtriples, key=lambda t: (t[2], h60(t[0] + "|" + t[1]), t[0], t[1])
    ):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            kw += w
    assert sum(w for a, b, w in wtriples if (a, b) in got) == kw

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no edges"):
        boruvka_msf(spark, df.limit(0))


def test_single_linkage_matches_union_find_cut(spark):
    """Engine goes MSF-first (cut theorem); check vs direct union-find
    over the <=t edges of the FULL graph, across every threshold."""
    from collections import Counter

    from pagerankproject_spark.graph.mst import boruvka_msf, single_linkage_clusters

    pairs = make_weblike(seed=44, n_nodes=60, m_edges=300)
    post = _post_regex(pairs)
    mult = Counter((min(s, t), max(s, t)) for s, t in post if s != t)
    wtriples = [(a, b, w) for (a, b), w in mult.items()]
    df = spark.createDataFrame(wtriples, "a string, b string, w long")
    msf = boruvka_msf(spark, df)  # amortized across cuts

    def want(t):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                x = parent[x]
            return x

        verts = {v for e in wtriples for v in e[:2]}
        for v in verts:
            find(v)
        for a, b, w in wtriples:
            if w <= t:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        # min url per cluster
        clusters = {}
        for v in verts:
            clusters.setdefault(find(v), []).append(v)
        out = {}
        for members in clusters.values():
            m = min(members)
            for v in members:
                out[v] = m
        return out

    for t in sorted({w for _, _, w in wtriples}) + [0]:
        got = {
            r["url"]: r["cluster"]
            for r in single_linkage_clusters(spark, df, t, msf=msf).collect()
        }
        assert got == want(t), f"threshold {t}"


def test_affinity_levels_match_replay_hierarchy(spark):
    """Level-k clusters == components of the replay forest's round<k
    edges, for every level 0..rounds (level 0 = singletons, level >=
    rounds = connected components)."""
    from collections import Counter

    from pagerankproject_spark.graph.mst import affinity_levels, boruvka_msf

    pairs = make_weblike(seed=45, n_nodes=50, m_edges=250)
    post = _post_regex(pairs)
    mult = Counter((min(s, t), max(s, t)) for s, t in post if s != t)
    wtriples = [(a, b, w) for (a, b), w in mult.items()]
    want_forest, _, want_rounds = _boruvka_replay(wtriples)

    df = spark.createDataFrame(wtriples, "a string, b string, w long")
    msf = boruvka_msf(spark, df)

    verts = {v for e in wtriples for v in e[:2]}
    for level in range(want_rounds + 2):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                x = parent[x]
            return x

        for v in verts:
            find(v)
        for (a, b), r in want_forest.items():
            if r < level:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        clusters = {}
        for v in verts:
            clusters.setdefault(find(v), []).append(v)
        want = {}
        for members in clusters.values():
            m = min(members)
            for v in members:
                want[v] = m
        got = {
            r["url"]: r["cluster"]
            for r in affinity_levels(spark, df, level, msf=msf).collect()
        }
        assert got == want, f"level {level}"
    import pytest as _pytest

    with _pytest.raises(ValueError, match=">= 0"):
        affinity_levels(spark, df, -1, msf=msf)


def test_node2vec_walks_match_python_replay(spark):
    """Full corpus vs a literal python replay of the second-order
    biased steps (bias weights 1/3/1 so the common-neighbor pull is
    visible), plus the bias-validation fail-fast."""
    import hashlib

    from pagerankproject_spark.graph.walks import node2vec_walks

    def h60(x):
        return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

    pairs = make_weblike(seed=46, n_nodes=40, m_edges=220)
    post = sorted({(s, t) for s, t in _post_regex(pairs) if s != t})
    adj = {}
    for s, t in post:
        adj.setdefault(s, []).append(t)
    for s in adj:
        adj[s].sort()
    eset = set(post)
    verts = sorted({v for e in post for v in e})
    L, W = 5, 2
    RW, CW, FW = 1, 3, 1

    want = {}
    for start in verts:
        for w in range(W):
            wid = f"{start}#{w}"
            want[(wid, 0)] = start
            cur, prev = start, None
            for t in range(1, L + 1):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                if t == 1:
                    nxt = nbrs[h60(f"{cur}|{start}|{w}|1") % len(nbrs)]
                else:
                    wgts = [
                        RW if x == prev else (CW if (prev, x) in eset else FW)
                        for x in nbrs
                    ]
                    r = h60(f"{cur}|{prev}|{start}|{w}|{t}") % sum(wgts)
                    cum = 0
                    for x, g_ in zip(nbrs, wgts):
                        cum += g_
                        if r < cum:
                            nxt = x
                            break
                prev, cur = cur, nxt
                want[(wid, t)] = cur

    df = spark.createDataFrame(post, "src string, dst string")
    got = {
        (r["walk_id"], r["step"]): r["url"]
        for r in node2vec_walks(
            df, walk_length=L, walks_per_vertex=W,
            return_w=RW, common_w=CW, far_w=FW,
        ).collect()
    }
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive integers"):
        node2vec_walks(df, return_w=0)


def test_walk_ppmi_matches_math_replay(spark):
    """Exact pair counts and math.log PPMI replay over a tiny corpus
    built by hand (no walk generator in the loop — pins the counting
    window semantics directly)."""
    import math
    from collections import Counter

    from pagerankproject_spark.graph.walks import walk_ppmi

    corpus = [
        ("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "c"), ("w1", 3, "a"),
        ("w2", 0, "b"), ("w2", 1, "a"), ("w2", 2, "b"),
        ("w3", 0, "c"),
    ]
    C = 2
    prs = []
    bywalk = {}
    for wid, s, u in corpus:
        bywalk.setdefault(wid, []).append((s, u))
    for wid, items in bywalk.items():
        for si, x in items:
            for sj, y in items:
                if sj != si and abs(sj - si) <= C:
                    prs.append((x, y))
    nxy = Counter(prs)
    nx = Counter(x for x, _ in prs)
    ny = Counter(y for _, y in prs)
    N = len(prs)
    want = {
        (x, y): (c, round(max(0.0, math.log(c * N / (nx[x] * ny[y]))), 6))
        for (x, y), c in nxy.items() if c >= 2
    }

    df = spark.createDataFrame(corpus, "walk_id string, step int, url string")
    got = {
        (r["x"], r["y"]): (r["n_pairs"], r["ppmi"])
        for r in walk_ppmi(df, context=C, min_count=2).collect()
    }
    assert got == want


def test_double_sweep_exact_on_tree_and_matches_bfs_replay(spark):
    """On a tree the double-sweep bound is the exact diameter; also
    pin the deterministic peak pick (max distance, min-url tie-break)
    via a python BFS replay on the weblike fixture."""
    from collections import deque

    from pagerankproject_spark.graph.kcore import double_sweep
    from pagerankproject_spark.ingest.edges import build_graph_tables

    # path a00-...-a09 (diameter 9) with a shorter branch a04->b0->b1
    # (b1's eccentricity is only 7): the sweep must find the true
    # diameter endpoints, not the branch
    tree = [(f"a{i:02d}", f"a{i+1:02d}") for i in range(9)]
    tree += [("a04", "b0"), ("b0", "b1")]
    gt = build_graph_tables(
        spark, spark.createDataFrame(tree, "src string, dst string")
    )
    row = double_sweep(spark, gt, source="a04").collect()[0]
    assert row["diameter_lb"] == 9
    assert {row["sweep_peak"], row["far_url"]} == {"a00", "a09"}

    pairs = make_weblike(seed=47, n_nodes=60, m_edges=200)
    post = sorted({(s, t) for s, t in _post_regex(pairs) if s != t})
    adj = {}
    for s, t in post:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)

    def bfs(src):
        dist = {src: 0}
        q = deque([src])
        while q:
            v = q.popleft()
            for x in sorted(adj.get(v, ())):
                if x not in dist:
                    dist[x] = dist[v] + 1
                    q.append(x)
        return dist

    source = post[0][0]
    d1 = bfs(source)
    peak = min((v for v in d1), key=lambda v: (-d1[v], v))
    d2 = bfs(peak)
    far = min((v for v in d2), key=lambda v: (-d2[v], v))
    gt2 = build_graph_tables(
        spark, spark.createDataFrame(post, "src string, dst string")
    )
    row = double_sweep(spark, gt2, source=source).collect()[0]
    assert (row["seed"], row["sweep_peak"], row["far_url"], row["diameter_lb"]) == (
        source, peak, far, d2[far]
    )


def test_conductance_matches_hand_counts(spark):
    """Exact-integer replay on a two-community hand graph, plus the
    single-community NULL guard."""
    import math

    from pagerankproject_spark.graph.metrics import conductance

    edges = [
        ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),   # triangle A
        ("b1", "b2"), ("b2", "b3"),                  # path B
        ("a1", "b1"),                                # one cut edge
    ]
    labels = [(v, "A") for v in ("a1", "a2", "a3")] + [
        (v, "B") for v in ("b1", "b2", "b3")
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    lf = spark.createDataFrame(labels, "url string, label string")
    got = {r["label"]: r for r in conductance(df, lf).collect()}
    # sym multigraph: vol(A) = 2*3 + 1 = 7, vol(B) = 2*2 + 1 = 5,
    # cut = 1 each direction, total = 12
    assert (got["A"]["volume"], got["A"]["cut_edges"]) == (7, 1)
    assert (got["B"]["volume"], got["B"]["cut_edges"]) == (5, 1)
    assert got["A"]["conductance"] == round(1 / 5, 6)  # min(7, 12-7)=5
    assert got["B"]["conductance"] == round(1 / 5, 6)
    one = conductance(df, lf.select("url", F.lit("X").alias("label"))).collect()
    assert len(one) == 1 and one[0]["conductance"] is None


def test_node2vec_dense_id_corpus_identical(spark):
    """The dense-id node2vec loop (long keys for expansion, edge flag,
    and emit; idx rank as the cumulative order) produces the
    row-identical corpus to the string loop — and to the weblike
    fixture's string corpus at non-default biases."""
    from pagerankproject_spark.graph.walks import node2vec_walks

    pairs = [
        ("a.x", "b.x"), ("a.x", "c.x"), ("b.x", "c.x"),
        ("c.x", "a.x"), ("c.x", "d.x"), ("e.x", "a.x"),
        ("b.x", "a.x"), ("d.x", "d.x"),
    ]
    e = edges_df(spark, pairs)
    by_str = sorted(map(tuple, node2vec_walks(e, 5, 3, 1, 3, 2).collect()))
    g = _tables(spark, pairs)
    by_id = sorted(map(tuple, node2vec_walks(
        g=g, walk_length=5, walks_per_vertex=3,
        return_w=1, common_w=3, far_w=2,
    ).collect()))
    assert by_id == by_str
    g.unpersist()

    web = make_weblike(seed=48, n_nodes=35, m_edges=160)
    post = sorted({(s, t) for s, t in _post_regex(web) if s != t})
    e2 = spark.createDataFrame(post, "src string, dst string")
    s2 = sorted(map(tuple, node2vec_walks(e2, 4, 2).collect()))
    g2 = _tables(spark, post)
    d2 = sorted(map(tuple, node2vec_walks(
        g=g2, walk_length=4, walks_per_vertex=2
    ).collect()))
    assert d2 == s2
    g2.unpersist()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        node2vec_walks(e2, g=g2)
    with _pytest.raises(ValueError, match="exactly one"):
        node2vec_walks()


def test_msf_append_equals_cold_rebuild(spark):
    """Sparsification property under the derandomized total order:
    MSF(MSF(old) ∪ delta) == MSF(old ∪ delta), exactly (modulo
    msf_round, which numbers the append run's own rounds); a duplicate
    (a, b) across the split keeps the lighter w."""
    from collections import Counter

    from pagerankproject_spark.graph.mst import boruvka_msf, msf_append

    pairs = make_weblike(seed=49, n_nodes=70, m_edges=350)
    post = _post_regex(pairs)
    mult = Counter((min(s, t), max(s, t)) for s, t in post if s != t)
    wtriples = sorted((a, b, w) for (a, b), w in mult.items())
    old = [t for i, t in enumerate(wtriples) if i % 5 != 0]
    delta = [t for i, t in enumerate(wtriples) if i % 5 == 0]
    # duplicate pair in the delta with a LIGHTER weight: min must win
    a0, b0, w0 = old[0]
    delta.append((a0, b0, max(w0 - 1, 1) if w0 > 1 else w0))
    merged = dict(((a, b), w) for a, b, w in wtriples)
    for a, b, w in delta:
        merged[(a, b)] = min(merged.get((a, b), w), w)

    sdf = lambda rows: spark.createDataFrame(rows, "a string, b string, w long")
    base = boruvka_msf(spark, sdf(old))
    inc = msf_append(spark, base.forest, sdf(delta))
    cold = boruvka_msf(spark, sdf([(a, b, w) for (a, b), w in merged.items()]))
    got = {(r["a"], r["b"]): r["w"] for r in inc.forest.collect()}
    want = {(r["a"], r["b"]): r["w"] for r in cold.forest.collect()}
    assert got == want


def test_triangle_count_sampled_matches_python_replay(spark):
    import hashlib

    import pytest

    from pagerankproject_spark.graph.triangles import triangle_count_sampled

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    pairs, _ = make_clustered_random(seed=47, k_clusters=3, n=80, p_in=0.3)
    edges = spark.createDataFrame(pairs, "src string, dst string")
    q = 4
    row = triangle_count_sampled(spark, edges, q=q).collect()[0]

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    smp = {e for e in und if h60(f"{e[0]}|{e[1]}") % q == 0}
    adj: dict[str, set[str]] = {}
    for a, b in smp:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(len(adj[a] & adj[b]) for a, b in smp) // 3
    assert row["n_edges"] == len(und)
    assert row["n_sampled"] == len(smp)
    assert row["n_triangles_sampled"] == tri
    assert row["estimate"] == tri * q**3

    # q=1 degenerates to the exact count
    exact = triangle_count_sampled(spark, edges, q=1).collect()[0]
    full_adj: dict[str, set[str]] = {}
    for a, b in und:
        full_adj.setdefault(a, set()).add(b)
        full_adj.setdefault(b, set()).add(a)
    t_exact = sum(len(full_adj[a] & full_adj[b]) for a, b in und) // 3
    assert exact["n_triangles_sampled"] == t_exact
    assert exact["estimate"] == t_exact
    assert exact["n_sampled"] == len(und)

    with pytest.raises(ValueError):
        triangle_count_sampled(spark, edges, q=0)


def test_rich_club_matches_python_replay(spark):
    """phi(k) over the simple undirected support vs a literal python
    replay; plus a star-graph sanity shape (the hub-only club has no
    edges once all leaves fall out)."""
    from pagerankproject_spark.graph.metrics import rich_club

    pairs, _ = make_clustered_random(seed=11, k_clusters=3, n=60, p_in=0.2)
    got = {
        r["k"]: (r["n_rich"], r["e_rich"], r["phi"])
        for r in rich_club(edges_df(spark, pairs)).collect()
    }

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    deg: dict[str, int] = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    expect = {}
    for k in sorted(set(deg.values())):
        rich = {v for v, d in deg.items() if d > k}
        if len(rich) < 2:
            continue
        ek = sum(1 for a, b in und if a in rich and b in rich)
        expect[k] = (
            len(rich),
            ek,
            round(2.0 * ek / (len(rich) * (len(rich) - 1)), 6),
        )
    assert got == expect and len(got) > 0

    # star: distinct degrees {1, 6}; only k=1 has n_rich >= 2? no —
    # deg>1 is just the hub (n_rich=1, dropped); deg>6 empty. k=1 has
    # n_rich=1 too. So a pure star emits NOTHING.
    star = [("hub.x", f"leaf{i}.x") for i in range(6)]
    assert rich_club(edges_df(spark, star)).count() == 0

    # triangle + pendant: deg = {a:3(2+pendant?),...} — craft: K3 with
    # one pendant on vertex a. degrees: a=3, b=2, c=2, p=1. distinct
    # k in {1,2,3}: k=1 -> rich={a,b,c} (3 nodes, 3 edges) phi=1.0;
    # k=2 -> rich={a} dropped; k=3 -> empty dropped.
    k3p = [("a.x", "b.x"), ("b.x", "c.x"), ("c.x", "a.x"), ("a.x", "p.x")]
    rows = rich_club(edges_df(spark, k3p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["k"], r["n_rich"], r["e_rich"], r["phi"]) == (1, 3, 3, 1.0)


def test_powerlaw_alpha_matches_python_replay(spark):
    """CSN continuous MLE vs a literal replay; fail-fast on an empty
    tail and on bad params; NULL alpha when every tail degree == dmin."""
    import math

    import pytest

    from pagerankproject_spark.graph.metrics import powerlaw_alpha

    pairs, _ = make_clustered_random(seed=7, k_clusters=4, n=80, p_in=0.15)
    dmin = 2
    row = powerlaw_alpha(edges_df(spark, pairs), dmin=dmin).collect()[0]

    e = {(a, b) for a, b in pairs if a != b}
    indeg: dict[str, int] = {}
    for _, b in e:
        indeg[b] = indeg.get(b, 0) + 1
    tail = [d for d in indeg.values() if d >= dmin]
    want = 1.0 + len(tail) / sum(math.log(d / dmin) for d in tail)
    assert row["dmin"] == dmin and row["n_tail"] == len(tail)
    assert row["alpha"] == pytest.approx(want, abs=2e-6)

    # all tail degrees equal dmin -> log-sum 0 -> alpha NULL
    star = [(f"leaf{i}.x", "hub.x") for i in range(4)] + [
        (f"leaf{i}.x", "hub2.x") for i in range(4)
    ]
    r = powerlaw_alpha(edges_df(spark, star), dmin=4).collect()[0]
    assert r["n_tail"] == 2 and r["alpha"] is None

    # empty tail fails fast
    with pytest.raises(ValueError, match="no vertices"):
        powerlaw_alpha(edges_df(spark, star), dmin=50)
    with pytest.raises(ValueError):
        powerlaw_alpha(edges_df(spark, star), dmin=0)
    with pytest.raises(ValueError):
        powerlaw_alpha(edges_df(spark, star), degree="total")


def _simrank_python_replay(post, L, W, c=0.5):
    """Pure-python reverse hash-walks + first-meeting estimator
    (shared by the Spark test here and the DuckDB oracle test in
    test_recursive_oracles.py)."""
    import hashlib
    from collections import defaultdict

    def h60(x):
        return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)

    radj: dict[str, list[str]] = {}
    for s, t in sorted({(b, a) for a, b in post if a != b}):
        radj.setdefault(s, []).append(t)
    verts = sorted({v for e in post for v in e})

    cells = defaultdict(list)  # (t, vertex) -> [(start, w)]
    for start in verts:
        for w in range(W):
            cur = start
            for t in range(1, L + 1):
                nbrs = radj.get(cur)
                if not nbrs:
                    break
                cur = nbrs[h60(f"{cur}|{start}|{w}|{t}") % len(nbrs)]
                cells[(t, cur)].append((start, w))

    first: dict[tuple, int] = {}
    for (t, _), walkers in sorted(cells.items()):
        for i, (a, wa) in enumerate(walkers):
            for b, wb in walkers[i + 1:]:
                if a == b:
                    continue
                k = (a, wa, b, wb) if a < b else (b, wb, a, wa)
                if k not in first:
                    first[k] = t
                else:
                    first[k] = min(first[k], t)
    est: dict[tuple, float] = {}
    for (a, _, b, _), tau in first.items():
        est[(a, b)] = est.get((a, b), 0.0) + c**tau
    return {k: round(v / W**2, 6) for k, v in est.items()}


def test_simrank_mc_matches_python_replay(spark):
    """Full estimator vs a literal python replay of the reverse
    hash-walks and first-meeting accounting, string path vs dense-id
    path identical, and the exactly-one-input fail-fast."""
    from pagerankproject_spark.graph.walks import simrank_mc
    from pagerankproject_spark.ingest.edges import build_graph_tables

    pairs = make_weblike(seed=47, n_nodes=40, m_edges=260)
    post = sorted({(s, t) for s, t in _post_regex(pairs) if s != t})
    L, W = 4, 2
    want = _simrank_python_replay(post, L, W)
    assert want, "fixture must produce meetings"
    assert any(v < 1.0 for v in want.values())

    df = spark.createDataFrame(post, "src string, dst string")
    got = {
        (r["a"], r["b"]): r["simrank"]
        for r in simrank_mc(df, walk_length=L, walks_per_vertex=W).collect()
    }
    assert got == want

    g = build_graph_tables(spark, df)
    got_dense = {
        (r["a"], r["b"]): r["simrank"]
        for r in simrank_mc(g=g, walk_length=L, walks_per_vertex=W).collect()
    }
    assert got_dense == want
    g.unpersist()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        simrank_mc(df, g=g)
    with _pytest.raises(ValueError, match="exactly one"):
        simrank_mc()


def _auto_replay(pairs, probe_rounds=8):
    """Literal python replay of coloring_auto: probe_rounds of
    fixed-priority Jones-Plassmann, then '#a{r}'-salted hash trials."""
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def pri(v):
        return (h60(v), v)

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(s) for v, s in adj.items()}
    unc, colors = set(adj), {}
    jp_rounds = 0
    for _ in range(probe_rounds):
        if not unc:
            break
        jp_rounds += 1
        winners = {
            v
            for v in unc
            if not (adj[v] & unc)
            or pri(v) < min(pri(u) for u in adj[v] & unc)
        }
        newc = {}
        for v in winners:
            used = {colors[u] for u in adj[v] if u in colors}
            c = 0
            while c in used:
                c += 1
            newc[v] = c
        colors.update(newc)
        unc -= winners
    r = 0
    while unc:
        pick = {v: h60(f"{v}#a{r}") % (deg[v] + 1) for v in unc}
        win = {}
        for v in unc:
            if any(colors.get(u) == pick[v] for u in adj[v]):
                continue
            if any(u in unc and pick[u] == pick[v] for u in adj[v]):
                continue
            win[v] = pick[v]
        colors.update(win)
        unc -= set(win)
        r += 1
        assert r < 200
    return colors, adj, deg, jp_rounds, r


def test_coloring_auto_matches_replay_and_phase_pick(spark):
    from pagerankproject_spark.graph.coloring import coloring_auto

    # dense-ish weblike graph: JP alone needs > probe rounds, so the
    # palette phase must engage and finish the residual core
    pairs = make_weblike(seed=17, n_nodes=80, m_edges=400)
    post = _post_regex(pairs)
    res = coloring_auto(spark, edges_df(spark, post))
    got = {r["url"]: r["color"] for r in res.colors.collect()}
    want, adj, deg, jp_r, pal_r = _auto_replay(post)
    assert got == want
    assert pal_r > 0  # replay confirms the fixture outruns the probe
    algos = {m["algo"] for m in res.metrics}
    assert algos == {"jp", "palette"}
    # proper + per-vertex palette bound (deg in JP phase, deg+1 after)
    for v, nbrs in adj.items():
        assert all(got[v] != got[u] for u in nbrs)
        assert 0 <= got[v] <= deg[v]

    # short-chain graph: JP finishes inside the probe — result IS the
    # exact greedy coloring and no palette round ever runs
    chain = [(f"c{i}", f"c{i+1}") for i in range(20)]
    res2 = coloring_auto(spark, edges_df(spark, chain))
    got2 = {
        r["url"]: r["color"] for r in res2.colors.collect()
    }
    want2, _, _, _, pal2 = _auto_replay(chain)
    assert got2 == want2
    assert pal2 == 0
    assert {m["algo"] for m in res2.metrics} == {"jp"}
    jp_only, _ = _coloring_replay(chain)
    assert got2 == jp_only

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no edges"):
        coloring_auto(spark, edges_df(spark, [("a", "a")]))


def test_cc_and_lpa_hit_the_cap_identically_on_both_paths(spark):
    """A 12-vertex path: CC capped below its diameter and LPA, which
    oscillates on a path, both stop at max_iterations with
    converged=False — and the driver-local and distributed paths stop
    with the same labels, rounds and per-round changed counts."""
    pairs = [(f"q{i:02d}.x", f"q{i+1:02d}.x") for i in range(11)]
    g = _tables(spark, pairs)
    cc = on_both_paths(
        lambda: connected_components(spark, g, max_iterations=3),
        lambda r: r.components,
    )
    assert cc.iterations == 3 and not cc.converged
    lpa = on_both_paths(
        lambda: label_propagation(spark, g, max_iterations=4),
        lambda r: r.labels,
    )
    assert lpa.iterations == 4 and not lpa.converged
    got = {r["url"]: r["label"] for r in lpa.labels.collect()}
    assert got == oracle.label_propagation(pairs, max_iterations=4)
    g.unpersist()


def test_auto_cc_local_converges_on_chain_longer_than_the_cap(spark):
    """Below the local threshold auto makes no probe decision and no
    star-contraction hand-off: after the probe's plain min-label rounds
    it adds root hooking and pointer jumping, and converges on a
    300-vertex chain (longer than probe_rounds AND max_iterations) in a
    few more rounds, with the union-find labels. The chain's vertex
    names are shuffled so ids follow no path order; a clustered graph
    rides along as more components."""
    import random

    from pagerankproject_spark.graph.components import connected_components_auto

    names = [f"c{i:04d}.x" for i in range(300)]
    random.Random(5).shuffle(names)
    pairs = list(zip(names, names[1:]))
    extra, _ = make_clustered_random(seed=3, k_clusters=4, n=80, p_in=0.1)
    g = _tables(spark, pairs + extra)
    res = connected_components_auto(
        spark, g, max_iterations=50, probe_rounds=8
    )
    got = {r["url"]: r["component"] for r in res.components.collect()}
    assert got == oracle.connected_components(pairs + extra)
    assert res.converged
    assert res.iterations <= 20, res.metrics
    assert {m["algo"] for m in res.metrics} == {"local"}
    assert {m["mode"] for m in res.metrics} == {"local"}
    g.unpersist()


def test_local_path_tags_mode_and_shares_one_collect(spark):
    """PageRank (spmv="auto"), CC, auto CC and LPA on one small graph
    all run on the driver, tag every metrics entry "mode": "local"
    (auto also "algo": "local"), and share the one driver-local copy
    of the graph, which g.unpersist() drops. The graph converges
    inside auto's probe, so the distributed auto walks the same
    rounds."""
    from pagerankproject_spark.graph import local
    from pagerankproject_spark.graph.components import connected_components_auto
    from pagerankproject_spark.graph.pagerank import pagerank

    g = _tables(spark, TWO_COMPONENTS_EDGES)
    pr = pagerank(spark, g, epsilon=1e-9, spmv="auto")
    lg = local.local_graph(g)
    cc = connected_components(spark, g)
    auto = connected_components_auto(spark, g)
    lpa = label_propagation(spark, g)
    assert local.local_graph(g) is lg
    for res in (pr, cc, auto, lpa):
        assert res.metrics and {m["mode"] for m in res.metrics} == {"local"}
    assert {m["algo"] for m in auto.metrics} == {"local"}
    with forced_distributed():
        dist = connected_components_auto(spark, g)
    assert [m["changed"] for m in dist.metrics] == [
        m["changed"] for m in auto.metrics
    ]
    assert sorted(dist.components.collect()) == sorted(auto.components.collect())
    g.unpersist()
    assert g._local is None


def test_local_url_rank_matches_spark_url_order(spark):
    """The driver copy's url rank (a Python str sort: code-point order,
    which is UTF-8 byte order) equals assign_url_ordered_ids's rank_id
    on non-ASCII, mixed-case and shared-prefix urls — including a
    supplementary-plane character, where UTF-16 order would differ —
    so LPA ties decided by min url agree between the two paths."""
    from pagerankproject_spark.graph import local
    from pagerankproject_spark.ingest.edges import assign_url_ordered_ids

    leaves = [
        "x", "X", "xa", "xA", "xá", "xé", "xe", "x€", "x\U0001F600",
        "x\uFF21", "Äx", "äx", "ax", "éx", "xab", "xa\u0301",
    ]
    # a star: the hub sees every leaf label once, so each round's
    # winner at the hub is decided purely by the min-url tie-break
    pairs = [("hub.é", leaf) for leaf in leaves]
    g = _tables(spark, pairs)
    ranked = assign_url_ordered_ids(spark, g.vertices, g.num_partitions)
    want = {r["id"]: r["rank_id"] for r in ranked.collect()}
    lg = local.local_graph(g)
    assert {i: int(lg.rank[i]) for i in range(g.n)} == want
    assert list(lg.url_by_rank()) == sorted(leaves + ["hub.é"])
    res = on_both_paths(
        lambda: label_propagation(spark, g, max_iterations=3),
        lambda r: r.labels,
    )
    got = {r["url"]: r["label"] for r in res.labels.collect()}
    assert got == oracle.label_propagation(pairs, max_iterations=3)
    g.unpersist()
