"""Driver-local execution of the graph loops below a measured size.

Spark's per-job floor (~0.5-1 s on a laptop-sized cluster) makes a
distributed round pointless while the whole graph fits comfortably in
driver memory: one numpy round over a few million edges takes
milliseconds. This module owns that decision for the ingest
(`build_graph_tables`) and for every operator that has a local kernel
(`pagerank(spmv="local"/"auto")`, `connected_components`,
`connected_components_auto`, `label_propagation`, `triangle_counts`):

  * `builds_local(spark, rows)` — the filtered raw pairs are at most
    LOCAL_SPMV_MAX_EDGES rows AND their url collect fits
    spark.driver.maxResultSize, so `build_graph_tables` builds the
    tables on the driver;
  * `runs_local(spark, g)` — the graph is at most LOCAL_SPMV_MAX_EDGES
    edges AND its collect fits spark.driver.maxResultSize (the guard
    that keeps an oversized collect from dying as an opaque Py4J error);
  * `local_graph(g)` — the dense driver-side copy of a GraphTables
    (edge arrays, url by id, url-order rank): seeded by a driver-local
    build, else collected once on first use; cached on the GraphTables
    and dropped by `g.unpersist()`, so PageRank, CC, LPA and triangle
    counting on one graph share one copy;
  * `hand_back(spark, table)` — the one way driver-built Arrow tables
    return to Spark: a parquet file the session owns, read back by
    `spark.read.parquet` (a fraction of `createDataFrame`'s cost,
    BENCH.md).

The kernels themselves live next to their distributed loops (same
module, same round semantics, same metrics), and run the identical
synchronous rounds, so `iterations`, per-round `changed` and
`converged` match the distributed path exactly (tested); the triangle
kernel has no rounds and gives the cascade's exact rows and total.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

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


# collect budget per url (web urls run ~50-100 bytes)
URL_BYTES = 128


def _local_collect_estimate(g: GraphTables) -> int:
    """Arrow-columnar bytes `local_graph` pulls: (src, dst, weight) =
    24 B/edge, plus (id, url) at URL_BYTES/vertex."""
    return 24 * g.num_edges + URL_BYTES * g.n


def _fits(spark: SparkSession, nbytes: int) -> bool:
    limit = _max_result_bytes(spark)
    return limit == 0 or nbytes <= limit


def collect_fits(spark: SparkSession, g: GraphTables) -> bool:
    """Whether `local_graph(g)` fits spark.driver.maxResultSize."""
    return _fits(spark, _local_collect_estimate(g))


def runs_local(spark: SparkSession, g: GraphTables) -> bool:
    """The shared local-vs-distributed decision."""
    return g.num_edges <= LOCAL_SPMV_MAX_EDGES and collect_fits(spark, g)


def builds_local(spark: SparkSession, rows: int) -> bool:
    """Whether `build_graph_tables` builds on the driver: `rows`
    filtered (src, dst) url pairs are within the local threshold and
    their collect (two urls a row) fits spark.driver.maxResultSize."""
    return rows <= LOCAL_SPMV_MAX_EDGES and _fits(spark, 2 * URL_BYTES * rows)


def _reads_driver_files(spark: SparkSession) -> bool:
    """Whether the executors see the driver's file system: a local[...]
    master runs them in the driver's JVM."""
    master = spark.sparkContext.master
    return master == "local" or master.startswith("local[")


def hand_back(spark: SparkSession, table: pa.Table) -> DataFrame:
    """A driver-built Arrow table as a DataFrame.

    On a local master it is written with pyarrow.parquet under the
    SparkContext's own file root (which Spark deletes when the session
    stops) and read back with spark.read.parquet and the table's schema,
    so no job runs here. The file outlives `GraphTables.unpersist()`, so
    a frame handed back stays readable. Executors of any other master
    cannot read driver files, so there the table goes through
    `createDataFrame`."""
    schema = from_arrow_schema(table.schema)
    if not _reads_driver_files(spark):
        return spark.createDataFrame(table, schema)
    root = os.path.join(SparkFiles.getRootDirectory(), "hand_back")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{uuid.uuid4().hex}.parquet")
    pq.write_table(table, path)
    return spark.read.schema(schema).parquet(path)


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
