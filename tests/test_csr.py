"""CSR adjacency-block PageRank (`spmv="blocks"`, the dst-partitioned
on-disk blocks of ingest/csr.py — what the `pagerank_csr` contract key
runs): converges to the DataFrame path's ranks."""

from __future__ import annotations

import pytest

from fixtures.graphs import SMALL_GRAPH_EDGES
from pagerankproject_spark.ingest.edges import build_graph_tables
from tests.conftest import edges_df


@pytest.fixture(scope="module")
def small_g(spark):
    g = build_graph_tables(spark, edges_df(spark, SMALL_GRAPH_EDGES))
    yield g
    g.unpersist()


def test_pagerank_csr_matches_dataframe(spark, small_g):
    from pagerankproject_spark.graph.pagerank import pagerank

    df_res = pagerank(spark, small_g)
    csr_res = pagerank(spark, small_g, spmv="blocks")
    want = {r["url"]: r["x"] for r in df_res.ranks.collect()}
    got = {r["url"]: r["x"] for r in csr_res.ranks.collect()}
    assert csr_res.converged
    assert set(got) == set(want)
    for url in want:
        assert got[url] == pytest.approx(want[url], abs=1e-9), url
