"""The driver-local build of `build_graph_tables` against its Spark path.

Below the local threshold the tables are built on the driver from one
Arrow collect and handed back through parquet (graph/local.py
`builds_local`, `hand_back`); `forced_distributed()` keeps the
DataFrame build. Both must give the same graph, url for url.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pagerankproject_spark.graph import local
from pagerankproject_spark.ingest.edges import build_graph_tables

from .conftest import edges_df, forced_distributed

# urls with an inner or trailing slash are dropped by the reference regex
URLS = ["a.x", "b.x", "c.x", "d.x", "e.x", "a.x/p", "a.x/p/", "b.x/q/r"]

pairs_strategy = st.lists(
    st.tuples(st.sampled_from(URLS), st.sampled_from(URLS)),
    min_size=1,
    max_size=30,
).map(lambda p: p + p[:2] + [(p[0][0], p[0][0])])  # duplicates, a self-loop


def _url_edges(g):
    """The url-keyed multiset of (src url, dst url, weight)."""
    v = g.vertices
    rows = (
        g.weighted_edges.join(
            v.withColumnRenamed("id", "src_id").withColumnRenamed("url", "s"),
            "src_id",
        )
        .join(
            v.withColumnRenamed("id", "dst_id").withColumnRenamed("url", "d"),
            "dst_id",
        )
        .select("s", "d", "weight")
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def _edge_triples(lg):
    return sorted(zip(lg.src.tolist(), lg.dst.tolist(), lg.weight.tolist()))


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=pairs_strategy,
    max_nnz=st.none() | st.integers(min_value=0, max_value=30),
    filter_ratio=st.none() | st.sampled_from([0.2, 0.5, 1.0]),
)
def test_local_build_matches_spark_build(spark, pairs, max_nnz, filter_ratio):
    df = edges_df(spark, pairs)
    kw = {"max_nnz": max_nnz, "filter_ratio": filter_ratio}
    with forced_distributed():
        try:
            dist = build_graph_tables(spark, df, **kw)
        except ValueError as exc:
            assert "empty graph" in str(exc)
            with pytest.raises(ValueError, match="empty graph"):
                build_graph_tables(spark, df, **kw)
            return
    loc = build_graph_tables(spark, df, **kw)
    try:
        assert dist._local is None and loc._local is not None
        for attr in ("n", "num_edges", "num_partitions", "build_filters"):
            assert getattr(loc, attr) == getattr(dist, attr), attr
        assert _url_edges(loc) == _url_edges(dist)
        # the seeded driver copy is what a collect of the frames gives
        seeded = loc._local
        fresh = local.local_graph(dataclasses.replace(loc))
        assert fresh is not seeded
        assert list(fresh.url) == list(seeded.url)
        assert np.array_equal(fresh.rank, seeded.rank)
        assert _edge_triples(fresh) == _edge_triples(seeded)
    finally:
        loc.unpersist()
        dist.unpersist()


PAIRS = [("a.x", "b.x"), ("b.x", "c.x"), ("c.x", "a.x"), ("a.x", "b.x"),
         ("c.x", "d.x"), ("d.x", "d.x"), ("a.x", "a.x/p/")]


def test_salted_build_keeps_spark_path(spark):
    g = build_graph_tables(spark, edges_df(spark, PAIRS), salt_buckets=2)
    try:
        assert g._local is None
        assert "salt" in g.weighted_edges.columns
        assert g.build_filters == {"salt_buckets": 2}
        assert (g.n, g.num_edges) == (4, 6)
    finally:
        g.unpersist()


def test_oversize_collect_keeps_spark_path(spark, monkeypatch):
    # 6 filtered pairs budget 1.5 KiB of urls; a 64-byte maxResultSize
    # must keep the build on Spark
    monkeypatch.setattr(local, "_max_result_bytes", lambda _s: 64)
    assert not local.builds_local(spark, 6)
    g = build_graph_tables(spark, edges_df(spark, PAIRS))
    try:
        assert g._local is None
        assert (g.n, g.num_edges) == (4, 6)
    finally:
        g.unpersist()


def test_handed_back_frames_outlive_unpersist(spark):
    g = build_graph_tables(spark, edges_df(spark, PAIRS))
    assert g._local is not None
    vertices, edges = g.vertices, g.weighted_edges
    g.unpersist()
    assert sorted(r["url"] for r in vertices.collect()) == [
        "a.x", "b.x", "c.x", "d.x"
    ]
    assert edges.count() == 6
    assert edges.rdd.getNumPartitions() == g.num_partitions


def test_hand_back_without_shared_files(spark, monkeypatch):
    # executors of a non-local master cannot read driver files: the
    # table goes through createDataFrame, with the same schema and rows
    table = pa.table({"id": np.arange(3, dtype=np.int64), "url": ["a", "b", "c"]})
    via_file = local.hand_back(spark, table)
    monkeypatch.setattr(local, "_reads_driver_files", lambda _s: False)
    direct = local.hand_back(spark, table)
    assert direct.schema == via_file.schema
    assert sorted(direct.collect()) == sorted(via_file.collect())
