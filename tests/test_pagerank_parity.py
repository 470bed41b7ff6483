"""T1 parity tests (SURVEY §5.2): Spark engine vs README goldens and the
float64 NumPy oracle, on the reference's canonical small graph."""

from __future__ import annotations

import pytest

from fixtures.graphs import (
    SMALL_GRAPH_EDGES,
    SMALL_GRAPH_GOLDEN_ITERATIONS,
    SMALL_GRAPH_GOLDEN_RANKS,
    make_weblike,
)
from pagerankproject_spark.graph.pagerank import pagerank_from_edges
from pagerankproject_spark.oracle.numpy_ref import pagerank_by_url

from .conftest import edges_df


def test_oracle_matches_readme_goldens():
    """The oracle itself reproduces /root/reference/README.md:420-449."""
    ranks, residuals = pagerank_by_url(SMALL_GRAPH_EDGES)
    assert len(residuals) == SMALL_GRAPH_GOLDEN_ITERATIONS
    for url, golden in SMALL_GRAPH_GOLDEN_RANKS.items():
        assert ranks[url] == pytest.approx(golden, abs=1e-4)


def test_spark_small_graph_matches_goldens_and_oracle(spark):
    res = pagerank_from_edges(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    got = {r["url"]: r["x"] for r in res.ranks.collect()}

    # vs README float32-printed goldens @ 1e-4 (SURVEY §2.4.6)
    assert len(got) == 6
    for url, golden in SMALL_GRAPH_GOLDEN_RANKS.items():
        assert got[url] == pytest.approx(golden, abs=1e-4)

    # vs float64 oracle @ allclose 1e-6 (the binding parity target)
    oracle, oracle_res = pagerank_by_url(SMALL_GRAPH_EDGES)
    for url, val in oracle.items():
        assert got[url] == pytest.approx(val, abs=1e-6)

    # convergence trajectory: same iteration count, same residuals
    assert res.iterations == len(oracle_res) == SMALL_GRAPH_GOLDEN_ITERATIONS
    assert res.converged
    for a, b in zip(res.residuals, oracle_res):
        assert a == pytest.approx(b, abs=1e-9)


def test_spark_weblike_matches_oracle_with_filters(spark):
    """Regex filter + ratio filter + dangling handling on a lawfareblog-
    shaped graph, engine vs oracle @ 1e-6."""
    pairs = make_weblike(seed=7, n_nodes=300, m_edges=3000)
    res = pagerank_from_edges(
        spark, edges_df(spark, pairs), alpha=0.85, filter_ratio=0.3
    )
    got = {r["url"]: r["x"] for r in res.ranks.collect()}
    oracle, _ = pagerank_by_url(pairs, alpha=0.85, filter_ratio=0.3)
    assert set(got) == set(oracle)
    for url, val in oracle.items():
        assert got[url] == pytest.approx(val, abs=1e-6), url


def test_spark_personalization_matches_oracle(spark):
    from pyspark.sql import functions as F

    pairs = make_weblike(seed=11, n_nodes=200, m_edges=1500)
    matches = {u for e in pairs for u in e if u.endswith(("1", "3", "7"))}
    res = pagerank_from_edges(
        spark,
        edges_df(spark, pairs),
        v_expr=F.col("url").endswith("1")
        | F.col("url").endswith("3")
        | F.col("url").endswith("7"),
    )
    oracle, _ = pagerank_by_url(pairs, personalization_matches=matches)
    got = {r["url"]: r["x"] for r in res.ranks.collect()}
    for url, val in oracle.items():
        assert got[url] == pytest.approx(val, abs=1e-6), url


def test_local_spmv_matches_dataframe_and_goldens(spark):
    """spmv='local' (driver numpy loop) returns the same per-url ranks
    as the distributed path and the README goldens."""
    from fixtures.graphs import SMALL_GRAPH_EDGES, SMALL_GRAPH_GOLDEN_RANKS
    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    df_res = pagerank(spark, g, epsilon=1e-6, max_iterations=1000)
    lc_res = pagerank(spark, g, epsilon=1e-6, max_iterations=1000, spmv="local")
    a = {r["url"]: r["x"] for r in df_res.ranks.collect()}
    b = {r["url"]: r["x"] for r in lc_res.ranks.collect()}
    assert set(a) == set(b)
    for url in a:
        assert abs(a[url] - b[url]) < 1e-12, (url, a[url], b[url])
    for url, want in SMALL_GRAPH_GOLDEN_RANKS.items():
        assert abs(b[url] - want) < 1e-4
    assert lc_res.iterations == df_res.iterations


def test_blocks_spmv_matches_dataframe_and_goldens(spark):
    """spmv='blocks' (dst-partitioned on-disk CSR blocks + broadcast
    vertex state) returns the same per-url ranks, trajectory, and
    iteration count as the distributed path and the README goldens —
    including dangling vertices and a personalization vector."""
    from pyspark.sql import functions as F

    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import build_graph_tables

    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    df_res = pagerank(spark, g, epsilon=1e-6, max_iterations=1000)
    bl_res = pagerank(spark, g, epsilon=1e-6, max_iterations=1000, spmv="blocks")
    a = {r["url"]: r["x"] for r in df_res.ranks.collect()}
    b = {r["url"]: r["x"] for r in bl_res.ranks.collect()}
    assert set(a) == set(b)
    for url in a:
        assert abs(a[url] - b[url]) < 1e-12, (url, a[url], b[url])
    for url, want in SMALL_GRAPH_GOLDEN_RANKS.items():
        assert abs(b[url] - want) < 1e-4
    assert bl_res.iterations == df_res.iterations

    # weblike graph with dangling vertices + personalization, vs oracle
    pairs = make_weblike(seed=13, n_nodes=150, m_edges=900)
    matches = {u for e in pairs for u in e if u.endswith(("2", "5"))}
    g2 = build_graph_tables(spark, edges_df(spark, pairs))
    res = pagerank(
        spark,
        g2,
        v_expr=F.col("url").endswith("2") | F.col("url").endswith("5"),
        epsilon=1e-6,
        max_iterations=1000,
        spmv="blocks",
    )
    oracle, _ = pagerank_by_url(pairs, personalization_matches=matches)
    got = {r["url"]: r["x"] for r in res.ranks.collect()}
    for url, val in oracle.items():
        assert got[url] == pytest.approx(val, abs=1e-6), url
    g.unpersist()
    g2.unpersist()


def test_blocks_spmv_checkpoint_resume(spark, tmp_path):
    """Every mode writes one checkpoint protocol and resumes from any
    mode's checkpoint: for each (writer, resumer) pair over
    {dataframe, blocks, local}, a run interrupted after 4 iterations and
    resumed in the other mode gives the resumer's uninterrupted
    iteration count, residuals and fixpoint. The checkpointed dangling
    mass must be x . a of the checkpointed x, or a dataframe resume
    starts from a wrong teleport term."""
    import shutil

    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import build_graph_tables

    modes = ("dataframe", "blocks", "local")
    pairs = make_weblike(seed=17, n_nodes=100, m_edges=600)
    g = build_graph_tables(spark, edges_df(spark, pairs))

    full = {}
    for mode in modes:
        res = pagerank(spark, g, epsilon=1e-10, max_iterations=1000, spmv=mode)
        full[mode] = (res, {r["url"]: r["x"] for r in res.ranks.collect()})
    for writer in modes:
        # run 1: stop early, checkpointing every iteration
        ck = str(tmp_path / writer)
        pagerank(
            spark, g, epsilon=1e-10, max_iterations=4, spmv=writer,
            checkpoint_dir=ck, checkpoint_interval=1,
        )
        for mode in modes:
            # run 2: resume to convergence from a copy of run 1's state,
            # checkpointing only at the end
            pair_ck = str(tmp_path / f"{writer}-{mode}")
            shutil.copytree(ck, pair_ck)
            resumed = pagerank(
                spark, g, epsilon=1e-10, max_iterations=1000, spmv=mode,
                checkpoint_dir=pair_ck, checkpoint_interval=1000, resume=True,
            )
            want, want_ranks = full[mode]
            pair = (writer, mode)
            assert resumed.converged, pair
            assert resumed.metrics[0]["i"] == 4, pair
            assert {m["mode"] for m in resumed.metrics} == {mode}, pair
            assert resumed.iterations == want.iterations, pair
            for i, (a, b) in enumerate(zip(resumed.residuals, want.residuals)):
                assert a == pytest.approx(b, rel=1e-6, abs=1e-9), (pair, i)
            got = {r["url"]: r["x"] for r in resumed.ranks.collect()}
            assert set(got) == set(want_ranks), pair
            for url, val in want_ranks.items():
                assert abs(got[url] - val) < 1e-12, (pair, url)
    g.unpersist()


def test_auto_spmv_records_its_pick(spark):
    """Every metrics entry names the SpMV that ran, so `auto`'s choice
    is visible: local below the shared threshold, blocks above it."""
    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import forced_distributed

    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    res = pagerank(spark, g, max_iterations=3, spmv="auto")
    assert {m["mode"] for m in res.metrics} == {"local"}
    with forced_distributed():
        res = pagerank(spark, g, max_iterations=3, spmv="auto")
    assert {m["mode"] for m in res.metrics} == {"blocks"}
    g.unpersist()


@pytest.mark.parametrize("mode", ["dataframe", "blocks", "local"])
def test_zero_personalization_raises_in_every_mode(spark, mode):
    from pyspark.sql import functions as F

    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import build_graph_tables

    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    with pytest.raises(ValueError, match="personalization vector sums to 0"):
        pagerank(spark, g, v_expr=F.lit(0.0), spmv=mode)
    g.unpersist()


def test_local_spmv_guarded_against_max_result_size(spark, monkeypatch):
    """Explicit spmv='local' beyond the maxResultSize budget fails fast
    with a clear message (no opaque Py4J collect error); spmv='auto',
    connected components, label propagation and triangle counting
    silently take the distributed path instead, and so does the build
    (one shared guard, graph/local.py)."""
    import pagerankproject_spark.graph.pagerank as pr_mod
    from fixtures.graphs import SMALL_GRAPH_EDGES
    from pagerankproject_spark.graph import local
    from pagerankproject_spark.graph.components import connected_components
    from pagerankproject_spark.graph.labelprop import label_propagation
    from pagerankproject_spark.graph.triangles import triangle_counts
    from pagerankproject_spark.ingest.edges import build_graph_tables

    from .conftest import edges_df

    monkeypatch.setattr(local, "_max_result_bytes", lambda _s: 64)
    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))

    with pytest.raises(ValueError, match="maxResultSize"):
        pr_mod.pagerank(spark, g, epsilon=1e-6, max_iterations=5, spmv="local")

    res = pr_mod.pagerank(spark, g, epsilon=1e-6, max_iterations=5, spmv="auto")
    assert res.ranks.count() == g.n  # fell back to the distributed loop
    assert "local" not in {m.get("mode") for m in res.metrics}
    assert {m["mode"] for m in res.metrics} == {"dataframe"}
    cc = connected_components(spark, g, max_iterations=2)
    lpa = label_propagation(spark, g, max_iterations=2)
    for r in (cc, lpa):
        assert "local" not in {m.get("mode") for m in r.metrics}
    assert triangle_counts(spark, g).mode == "distributed"
    assert g._local is None  # nothing was collected
    g.unpersist()


def test_weighted_build_matches_row_expanded_multigraph(spark):
    # build_weighted_graph_tables fed per-pair multiplicities must give
    # the same transition matrix as the 1/outdeg build on the expanded
    # rows: w/sum(w) == mult/total_rows per source. Ranks agree to a
    # float-association tolerance.
    from pyspark.sql import functions as F

    from pagerankproject_spark.graph.pagerank import pagerank
    from pagerankproject_spark.ingest.edges import (
        build_graph_tables,
        build_weighted_graph_tables,
    )

    pairs = []
    for i in range(20):
        for j in range(1 + i % 3):
            pairs.append((f"site.com/p{i}", f"site.com/p{(i * 3 + j) % 20}"))
    expanded = edges_df(spark, pairs)
    agg = expanded.groupBy("src", "dst").agg(F.count("*").alias("w"))

    g1 = build_graph_tables(spark, expanded)
    g2 = build_weighted_graph_tables(spark, agg)
    # fixed iteration count: an epsilon near the residual noise floor
    # (~1e-8) can stop the two builds one iteration apart, which shows
    # up as a ~residual-sized rank gap and is not a weighting defect
    r1 = {
        r["url"]: r["x"]
        for r in pagerank(spark, g1, epsilon=0.0, max_iterations=40).ranks.collect()
    }
    r2 = {
        r["url"]: r["x"]
        for r in pagerank(spark, g2, epsilon=0.0, max_iterations=40).ranks.collect()
    }
    assert set(r1) == set(r2)
    diffs = sorted((abs(r1[u] - r2[u]), u) for u in r1)
    assert diffs[-1][0] < 1e-12, diffs[-3:]


def test_weighted_build_drops_nonpositive_weights(spark):
    from pagerankproject_spark.ingest.edges import build_weighted_graph_tables

    e = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 0.0), ("c", "a", -1.0), ("b", "a", 1.0)],
        "src string, dst string, w double",
    )
    g = build_weighted_graph_tables(spark, e)
    # only a<->b survive; c never enters the vertex set
    assert g.n == 2
    assert g.num_edges == 2
    rows = {
        (r["src_id"], r["dst_id"]): r["weight"]
        for r in g.weighted_edges.collect()
    }
    assert all(abs(w - 1.0) < 1e-15 for w in rows.values())  # single-outlink rows


def test_weighted_build_refuses_append_edges(spark):
    from pagerankproject_spark.ingest.edges import (
        append_edges,
        build_weighted_graph_tables,
    )

    e = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    g = build_weighted_graph_tables(spark, e)
    with pytest.raises(ValueError):
        append_edges(spark, g, edges_df(spark, [("a", "c")]))
