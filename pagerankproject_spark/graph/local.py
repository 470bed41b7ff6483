"""Driver-local execution of the graph loops below a measured size.

Spark's per-job floor (~0.5-1 s on a laptop-sized cluster) makes a
distributed round pointless while the whole graph fits comfortably in
driver memory: one numpy round over a few million edges takes
milliseconds. This module owns that decision for every operator that
has a local kernel (`pagerank(spmv="local"/"auto")`,
`connected_components`, `connected_components_auto`,
`label_propagation`, `triangle_counts`):

  * `runs_local(spark, g)` — the graph is at most LOCAL_SPMV_MAX_EDGES
    edges AND its collect fits spark.driver.maxResultSize (the guard
    that keeps an oversized collect from dying as an opaque Py4J error);
  * `local_graph(g)` — the dense driver-side copy of a GraphTables
    (edge arrays, url by id, url-order rank), collected once per
    GraphTables, cached on it and dropped by `g.unpersist()`, so
    PageRank, CC, LPA and triangle counting on one graph share one
    collect.

The kernels themselves live next to their distributed loops (same
module, same round semantics, same metrics), and run the identical
synchronous rounds, so `iterations`, per-round `changed` and
`converged` match the distributed path exactly (tested); the triangle
kernel has no rounds and gives the cascade's exact rows and total.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import SparkSession

from ..ingest.edges import GraphTables

# above this, distributed iteration is worth its per-job latency;
# below, one driver-local numpy loop beats the cluster (measured).
LOCAL_SPMV_MAX_EDGES = 5_000_000

_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _max_result_bytes(spark: SparkSession) -> int:
    """spark.driver.maxResultSize as bytes; 0 = unlimited."""
    raw = str(spark.conf.get("spark.driver.maxResultSize", "1g")).strip().lower()
    for suf in ("b", ""):
        for k, mult in _SIZE_SUFFIX.items():
            if raw.endswith(k + suf) and raw[: -len(k + suf)].strip().isdigit():
                return int(raw[: -len(k + suf)].strip()) * mult
    return int(raw) if raw.isdigit() else 1 << 30


def _local_collect_estimate(g: GraphTables) -> int:
    """Arrow-columnar bytes `local_graph` pulls: (src, dst, weight) =
    24 B/edge, plus (id, url) budgeted at 128 B/vertex (web urls run
    ~50-100 bytes)."""
    return 24 * g.num_edges + 128 * g.n


def collect_fits(spark: SparkSession, g: GraphTables) -> bool:
    """Whether `local_graph(g)` fits spark.driver.maxResultSize."""
    limit = _max_result_bytes(spark)
    return limit == 0 or _local_collect_estimate(g) <= limit


def runs_local(spark: SparkSession, g: GraphTables) -> bool:
    """The shared local-vs-distributed decision."""
    return g.num_edges <= LOCAL_SPMV_MAX_EDGES and collect_fits(spark, g)


@dataclass
class LocalGraph:
    """A GraphTables on the driver, indexed by the dense vertex id."""

    src: np.ndarray  # int64 per edge (duplicates and self-loops kept)
    dst: np.ndarray  # int64 per edge
    weight: np.ndarray  # float64 per edge
    url: np.ndarray  # object: url of each id
    rank: np.ndarray  # int64: position of url[id] in url order

    def url_by_rank(self) -> np.ndarray:
        """Urls in url order (inverse of `rank`)."""
        out = np.empty_like(self.url)
        out[self.rank] = self.url
        return out


def local_graph(g: GraphTables) -> LocalGraph:
    """The driver-local copy of `g`: two collects on first use, cached
    on `g` until `g.unpersist()`.

    The url order is a Python `str` sort, i.e. code-point order, which
    is UTF-8 byte order — the order Spark compares strings in, so
    `rank` equals `assign_url_ordered_ids`'s rank_id (tested)."""
    if g._local is None:
        e = g.weighted_edges.select("src_id", "dst_id", "weight").toPandas()
        v = g.vertices.select("id", "url").toPandas()
        url = np.empty(g.n, dtype=object)
        url[v["id"].to_numpy(dtype=np.int64)] = v["url"].to_numpy()
        rank = np.empty(g.n, dtype=np.int64)
        rank[np.argsort(url, kind="stable")] = np.arange(g.n, dtype=np.int64)
        g._local = LocalGraph(
            src=e["src_id"].to_numpy(dtype=np.int64),
            dst=e["dst_id"].to_numpy(dtype=np.int64),
            weight=e["weight"].to_numpy(dtype=np.float64),
            url=url,
            rank=rank,
        )
    return g._local
