"""Edge/vertex table construction — SURVEY.md §2a operators #1-#8, #23.

Reference anchors (/root/reference/pagerank.py):
  #1 source scan              pagerank.py:21-48   (engine: any edge DataFrame)
  #2 row limit (max_nnz)      pagerank.py:39-40
  #3 regex predicate filter   pagerank.py:41-44
  #4 dictionary encoding      pagerank.py:45-46, 80-93
  #5 in-degree aggregation    pagerank.py:32-33,47
  #6 in-link-ratio filter     pagerank.py:51-56   (edges only; n frozen; strict <)
  #7 out-degree 1/d weights   pagerank.py:59-70
  #8 sparse matrix build      pagerank.py:72-76   (the weighted_edges DF *is* P)
  #23 salted hash-partitioned edge table (north_rule; no reference impl)

Scale posture: above the driver-local threshold every step is a
declarative DataFrame op (Catalyst pushes filters into the scan and
prunes columns). Dense-id assignment avoids a global sort:
hash-repartition the distinct vertex set, number rows within each
partition, then add per-partition offsets (one tiny driver collect of
P counts). The per-iteration join key (src_id) is the table's
partitioning key, persisted once and reused by every iterative
algorithm.

Below the threshold (graph/local.py `builds_local`: the filtered pair
count is at most LOCAL_SPMV_MAX_EDGES and their collect fits
spark.driver.maxResultSize) `build_graph_tables` collects the filtered
pairs once as Arrow and does operators #4-#7 on the driver
(`_build_on_driver`): ids are url-order ranks, degrees and weights come
from `np.bincount`, the tables go back to Spark through
graph/local.py `hand_back`, and the graph's driver-local copy is seeded
at build, so the local kernels collect nothing. Salting and the other
builders stay DataFrame-only.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Partition autotuning for the iterative edge table (round-1 verdict
# item 1). Measured on local[32]:
#   * 45M edges: 32 partitions (1.4M edges each) iterate at 1.77 s vs
#     2.52 s with 64 — below ~2M edges a partition, per-task scheduling
#     overhead dominates the SpMV;
#   * 300M edges: 64 partitions = 4.65 s/iter (64.5M edges/s) vs 160
#     partitions = 21 s/iter with GC storms — many concurrent hash-agg
#     buffers over a large cached table thrash old-gen.
# Rule: schedule FULL WAVES of the available parallelism (a partial
# extra wave serializes behind the others), at most TWO — big
# partitions amortize fixed cost; memory per partition is bounded by
# the executor sizing on a real cluster, where parallelism itself
# grows with the data.
TARGET_EDGES_PER_PARTITION = 2_000_000


def tuned_partitions(num_edges: int, parallelism: int) -> int:
    waves = max(
        1, math.ceil(num_edges / (TARGET_EDGES_PER_PARTITION * parallelism))
    )
    return parallelism * min(waves, 2)

# Reference drop-regex (pagerank.py:42). Python re.match with leading .* is
# an unanchored search for the inner group, so Spark's (unanchored) rlike of
# the inner group reproduces it exactly.
URL_DROP_RLIKE = r"((/$)|(/.*/))"

_EMPTY_GRAPH = (
    "empty graph: no edges survived the filters (the reference would "
    "build a 0x0 matrix and crash later in power_method; failing fast "
    "here instead)"
)


def limit_rows(edges: DataFrame, max_nnz: int | None) -> DataFrame:
    """Operator #2. Reference breaks when i > max_nnz (pagerank.py:39-40),
    i.e. rows 0..max_nnz inclusive are ingested: max_nnz + 1 raw rows,
    counted BEFORE the regex filter."""
    if max_nnz is None:
        return edges
    return edges.limit(max_nnz + 1)


def regex_filter(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Operator #3 (pagerank.py:41-44): drop a row if EITHER endpoint
    matches the drop-regex. Runs before id assignment so dropped-only URLs
    never enter the vertex set (SURVEY §2.4.5)."""
    return edges.filter(
        ~F.col(src).rlike(URL_DROP_RLIKE) & ~F.col(dst).rlike(URL_DROP_RLIKE)
    )


def assign_dense_ids(
    spark: SparkSession, urls: DataFrame, num_partitions: int
) -> tuple[DataFrame, int]:
    """Operator #4 (pagerank.py:80-93): url -> dense id in [0, n).

    Distributed dense numbering WITHOUT a global sort: hash-repartition by
    url, row_number within each partition, add per-partition offsets
    (collect of exactly num_partitions counts). First-appearance order is
    NOT reproduced — ids are internal, all outputs key by url (SURVEY §2.4.7).

    Input: single-column DataFrame `url` (already distinct).
    Output: ((id: long, url: string), n) — the offset sum IS the vertex
    count, so callers get n without a separate count job.
    """
    parts = urls.repartition(num_partitions, "url").withColumn(
        "pid", F.spark_partition_id()
    )
    parts = parts.persist()
    counts = {
        r["pid"]: r["cnt"]
        for r in parts.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    offset_df = spark.createDataFrame(offsets, "pid int, offset long")
    w = Window.partitionBy("pid").orderBy("url")
    out = (
        parts.withColumn("rn", F.row_number().over(w).cast("long") - 1)
        .join(F.broadcast(offset_df), "pid")
        .select((F.col("rn") + F.col("offset")).alias("id"), "url")
    )
    return out, acc


@dataclass
class GraphTables:
    """The engine's 'sparse matrix': §1.2 tables, all keyed by dense ids."""

    vertices: DataFrame  # id: long, url: string  (persisted)
    weighted_edges: DataFrame  # src_id: long, dst_id: long, weight: double (persisted, hash-partitioned by src_id)
    n: int  # vertex count (post-regex, frozen before ratio filter)
    num_partitions: int
    num_edges: int  # post-all-filters edge rows (nnz of P)
    # non-default build options (max_nnz/filter_ratio/salt_buckets) that
    # make the table NOT incrementally maintainable — append_edges raises
    # when set (the ratio threshold is frozen at build-time n; salt adds
    # a column the delta path doesn't reproduce).
    build_filters: dict | None = None
    # driver-local copy (graph/local.py LocalGraph): seeded by a
    # driver-local build, else collected on first use by a local-path
    # kernel; not an init field, so a copy made with
    # dataclasses.replace never inherits another graph's arrays
    _local: object = field(default=None, init=False, repr=False, compare=False)

    def unpersist(self) -> None:
        self._local = None
        for df in (self.vertices, self.weighted_edges):
            try:
                df.unpersist()
            except Exception:
                pass


def simple_edges(
    g: GraphTables, partition_col: str = "src_id"
) -> DataFrame:
    """The simple directed edge table of a GraphTables — self-loops
    dropped, parallel edges deduped — repartitioned on `partition_col`
    and lineage-truncated. The shared prep of the structural operators
    (betweenness, k-hop ego-nets, HyperBall's dense-id mode)."""
    return (
        g.weighted_edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .repartition(g.num_partitions, partition_col)
        .localCheckpoint(eager=True)
    )


def build_graph_tables(
    spark: SparkSession,
    edges: DataFrame,
    max_nnz: int | None = None,
    filter_ratio: float | None = None,
    num_partitions: int | None = None,
    salt_buckets: int = 0,
    hot_key_threshold: int = 1_000_000,
) -> GraphTables:
    """Operators #1-#8 end to end: raw (src,dst) string edges -> GraphTables.

    Matches the reference pipeline order exactly (SURVEY §2.4.4/.5):
      limit -> regex filter -> [id space + in-degree fixed here] ->
      ratio filter (edges only, strict < keep, threshold ratio*n) ->
      out-degree 1/d weights.

    `salt_buckets` > 0 adds a `salt` column (operator #23) splitting
    edges of hot destination keys (in-degree >= hot_key_threshold) across
    buckets, for explicit two-phase aggregation by (dst_id, salt) then
    dst_id. At local test scale the default leaves salting off; the
    iterative algorithms accept the column when present.

    Without salting, filtered pairs within graph/local.py `builds_local`
    are built on the driver (`_build_on_driver`) into the same tables.
    """
    from ..graph import local

    e = limit_rows(edges, max_nnz)
    e = regex_filter(e)
    # duplicates are real links in the reference (counted in degrees and P);
    # never dedup here.
    e = e.persist()
    build_filters = {
        k: v
        for k, v in (
            ("max_nnz", max_nnz),
            ("filter_ratio", filter_ratio),
            ("salt_buckets", salt_buckets or None),
        )
        if v is not None
    } or None
    # one cheap count on the just-persisted filter output: it sizes the
    # partitions and decides where the rest of the build runs
    rows = e.count()
    if num_partitions is None:
        # autotune from the measured edge count instead of blindly
        # inheriting spark.sql.shuffle.partitions — see tuned_partitions.
        num_partitions = tuned_partitions(
            rows, spark.sparkContext.defaultParallelism
        )
    if not salt_buckets and local.builds_local(spark, rows):
        return _build_on_driver(
            spark, e, filter_ratio, num_partitions, build_filters
        )

    # vertex set = every endpoint surviving the regex filter
    urls = e.select(F.col("src").alias("url")).union(
        e.select(F.col("dst").alias("url"))
    ).distinct()
    vertices, n = assign_dense_ids(spark, urls, num_partitions)
    vertices = vertices.persist()
    if n == 0:
        raise ValueError(_EMPTY_GRAPH)

    ids_src = vertices.select(
        F.col("url").alias("src"), F.col("id").alias("src_id")
    )
    ids_dst = vertices.select(
        F.col("url").alias("dst"), F.col("id").alias("dst_id")
    )
    # vertex dim is small relative to edges; hint broadcast when it fits —
    # Spark falls back to shuffle join automatically above the threshold.
    enc = e.join(ids_src, "src").join(ids_dst, "dst").select("src_id", "dst_id")

    if filter_ratio is not None:
        # operator #6: in-degree computed post-regex/pre-ratio; drop edges
        # whose dst in-degree >= ratio * n (strict < keep, pagerank.py:54).
        indeg = enc.groupBy("dst_id").agg(F.count("*").alias("indeg"))
        hot = indeg.filter(F.col("indeg") >= F.lit(filter_ratio * n)).select(
            "dst_id"
        )
        enc = enc.join(F.broadcast(hot), "dst_id", "left_anti")

    # operator #7: weight = 1/outdeg(src). A window over the src_id
    # partitioning both computes the count and leaves the data partitioned
    # on the iteration join key — one shuffle, reused every iteration.
    w = Window.partitionBy("src_id")
    weighted = enc.withColumn(
        "weight", F.lit(1.0) / F.count("*").over(w).cast("double")
    )

    if salt_buckets > 0:
        indeg_all = weighted.groupBy("dst_id").agg(F.count("*").alias("indeg"))
        hot_ids = indeg_all.filter(F.col("indeg") >= hot_key_threshold).select(
            "dst_id"
        )
        weighted = weighted.join(
            F.broadcast(hot_ids.withColumn("is_hot", F.lit(True))),
            "dst_id",
            "left",
        ).withColumn(
            "salt",
            F.when(
                F.col("is_hot").isNotNull(),
                F.pmod(F.hash("src_id"), F.lit(salt_buckets)),
            ).otherwise(F.lit(0)),
        ).drop("is_hot")

    weighted = weighted.repartition(num_partitions, "src_id").persist()
    num_edges = weighted.count()
    e.unpersist()
    return GraphTables(
        vertices=vertices,
        weighted_edges=weighted,
        n=n,
        num_partitions=num_partitions,
        num_edges=num_edges,
        build_filters=build_filters,
    )


def _build_on_driver(
    spark: SparkSession,
    e: DataFrame,
    filter_ratio: float | None,
    num_partitions: int,
    build_filters: dict | None,
) -> GraphTables:
    """Operators #4-#7 over one Arrow collect of the persisted filtered
    pairs `e` (which this releases), with the Spark path's semantics.

    Ids are url-order ranks: Arrow sorts strings by bytes, Spark's
    string order, so `rank` is the identity. The in-link-ratio filter
    keeps indeg[dst] < ratio * n with n frozen before it, and weights
    are 1/outdeg after it. Both tables go back through graph/local.py
    `hand_back`; the edge table is then hash-partitioned on src_id,
    persisted and materialized like the Spark path's."""
    from ..graph import local

    pairs = e.select("src", "dst").toArrow()
    e.unpersist()
    src, dst = pairs.column("src"), pairs.column("dst")
    urls = pc.unique(pa.chunked_array(src.chunks + dst.chunks, type=src.type))
    urls = urls.take(pc.sort_indices(urls))
    n = len(urls)
    if n == 0:
        raise ValueError(_EMPTY_GRAPH)
    s = pc.index_in(src, value_set=urls).to_numpy().astype(np.int64)
    d = pc.index_in(dst, value_set=urls).to_numpy().astype(np.int64)
    if filter_ratio is not None:
        keep = np.bincount(d, minlength=n)[d] < filter_ratio * n
        s, d = s[keep], d[keep]
    w = 1.0 / np.bincount(s, minlength=n)[s]

    ids = np.arange(n, dtype=np.int64)
    vertices = local.hand_back(spark, pa.table({"id": ids, "url": urls}))
    weighted = local.hand_back(
        spark, pa.table({"src_id": s, "dst_id": d, "weight": w})
    )
    # materialized like the Spark path's table, so the first consumer
    # pays no repartition and plans over it see the cached stages
    weighted = weighted.repartition(num_partitions, "src_id").persist()
    weighted.count()
    g = GraphTables(
        vertices=vertices,
        weighted_edges=weighted,
        n=n,
        num_partitions=num_partitions,
        num_edges=len(s),
        build_filters=build_filters,
    )
    g._local = local.LocalGraph(
        src=s, dst=d, weight=w, url=urls.to_numpy(zero_copy_only=False), rank=ids
    )
    return g


def build_weighted_graph_tables(
    spark: SparkSession,
    edges: DataFrame,
    num_partitions: int | None = None,
) -> GraphTables:
    """GraphTables from an explicitly-weighted edge list (src, dst, w) —
    e.g. the host graph from text/pipeline.py::host_graph, where w is
    the number of page links between two hosts.

    Transition weight = w / sum(w) over src (weight-proportional random
    surfer), computed with the same src-window trick as the 1/outdeg
    builder so the table comes out hash-partitioned on the iteration
    join key. Rows with w <= 0 are dropped BEFORE the vertex set is
    frozen (a zero-weight row is no link). Every downstream consumer —
    the dataframe/local/blocks SpMV paths, dangling detection,
    personalization, checkpointing — only reads (src_id, dst_id,
    weight), so weighted PageRank needs no loop changes.

    The reference has no weighted mode (its P is always 1/outdeg,
    pagerank.py:72-76); feeding w = per-pair multiplicity reproduces the
    reference semantics on the contracted multigraph exactly (tested to
    1e-12 against the row-expanded build).

    Determinism contract: `w` is expected to be an exactly-representable
    integer count (true for every current caller — host n_links). The
    normalizing sum(w) over src is an UNORDERED float window sum, so
    arbitrary fractional weights would make transition weights
    addition-order-dependent in the last ulp across runs/partitionings,
    breaking the repo's cross-engine bit-parity conventions. Integer
    values up to 2^53 sum exactly in double regardless of order, so the
    contract holds for counts; callers with genuinely fractional weights
    should pre-scale to integers or accept ulp-level jitter."""
    e = edges.select(
        F.col("src"), F.col("dst"), F.col("w").cast("double").alias("w")
    ).filter(F.col("w") > 0)
    e = e.persist()
    if num_partitions is None:
        num_partitions = tuned_partitions(
            e.count(), spark.sparkContext.defaultParallelism
        )

    urls = e.select(F.col("src").alias("url")).union(
        e.select(F.col("dst").alias("url"))
    ).distinct()
    vertices, n = assign_dense_ids(spark, urls, num_partitions)
    vertices = vertices.persist()
    if n == 0:
        raise ValueError("empty graph: no positive-weight edges")

    ids_src = vertices.select(F.col("url").alias("src"), F.col("id").alias("src_id"))
    ids_dst = vertices.select(F.col("url").alias("dst"), F.col("id").alias("dst_id"))
    enc = e.join(ids_src, "src").join(ids_dst, "dst").select("src_id", "dst_id", "w")

    win = Window.partitionBy("src_id")
    weighted = enc.withColumn(
        "weight", F.col("w") / F.sum("w").over(win)
    ).select("src_id", "dst_id", "weight")

    weighted = weighted.repartition(num_partitions, "src_id").persist()
    num_edges = weighted.count()
    e.unpersist()
    return GraphTables(
        vertices=vertices,
        weighted_edges=weighted,
        n=n,
        num_partitions=num_partitions,
        num_edges=num_edges,
        build_filters={"weighted": True},  # not append_edges-maintainable
    )


def read_edge_csv(spark: SparkSession, path: str, num_partitions: int = 32) -> DataFrame:
    """Operator #1 compatibility source: (gzipped) CSV with header
    `source,target` (pagerank.py:21-27). gzip is unsplittable -> immediate
    repartition so downstream work parallelizes."""
    df = (
        spark.read.option("header", True)
        .schema("source STRING, target STRING")
        .csv(path)
        .withColumnRenamed("source", "src")
        .withColumnRenamed("target", "dst")
    )
    return df.repartition(num_partitions)


def assign_url_ordered_ids(
    spark: SparkSession, vertices: DataFrame, num_partitions: int
) -> DataFrame:
    """(id, url) -> (id, url, rank_id): dense rank_id strictly increasing
    in GLOBAL url order, without a single-partition sort.

    Range-partition by url (partition k holds a url range below partition
    k+1's), number rows within each partition, add per-partition offsets
    (a collect of exactly num_partitions counts). Used by operators whose
    tie-breaks are defined in url order (LPA) so iteration state can be
    integers instead of url strings — at web scale that halves-or-better
    every per-iteration shuffle payload.
    """
    parts = vertices.repartitionByRange(num_partitions, "url").withColumn(
        "pid", F.spark_partition_id()
    )
    parts = parts.persist()
    counts = {
        r["pid"]: r["cnt"]
        for r in parts.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    offset_df = spark.createDataFrame(offsets, "pid int, offset long")
    w = Window.partitionBy("pid").orderBy("url")
    out = (
        parts.withColumn("rn", F.row_number().over(w).cast("long") - 1)
        .join(F.broadcast(offset_df), "pid")
        .select("id", "url", (F.col("rn") + F.col("offset")).alias("rank_id"))
    )
    return out


def build_edges(
    spark: SparkSession,
    pages: DataFrame,
    impl: str = "sql",
    **kw,
) -> GraphTables:
    """Engine lifecycle entry #1 (SURVEY §3.4): Common-Crawl-style
    `pages` table -> GraphTables, in one call.

    Column pruning makes the scan read only (url, html) here — the
    binary column never reaches the shuffle (asserted in plan tests).
    `kw` forwards to build_graph_tables (max_nnz, filter_ratio,
    salt_buckets, num_partitions...).
    """
    from .extract import extract_outlinks

    return build_graph_tables(spark, extract_outlinks(pages, impl=impl), **kw)


def append_edges(
    spark: SparkSession,
    g: GraphTables,
    new_edges: DataFrame,
) -> GraphTables:
    """Incremental ingest (crawl-delta maintenance): fold a batch of new
    raw (src,dst) string edges into existing GraphTables WITHOUT
    rebuilding from the full corpus.

    At 100 TB the full edge table is rebuilt never; a daily crawl delta
    is orders of magnitude smaller, so the update must cost O(delta +
    touched-source edges), not O(total):

      * regex filter the delta (same drop-rule);
      * unseen urls get fresh dense ids ABOVE the existing max
        (existing ids are never renumbered — ranks/labels keyed on them
        stay valid as warm-start state);
      * 1/outdeg weights are recomputed ONLY for sources touched by the
        delta (join on the touched-src set); every other row of the
        weighted table is reused as-is;
      * result is repartitioned on the same key so iteration joins keep
        their layout, and checkpointed: each append's plan references
        the previous tables several times, so persisted (lineage-
        keeping) results made chained appends plan in exponential time
        and heap (3 appends on a 30-vertex graph needed > 4 GB).

    Exactly equal to a full rebuild on the concatenated edge list
    (url-keyed; asserted in tests) — PROVIDED `g` was built with the
    default filters only. The delta path re-applies the regex filter
    but NOT `max_nnz` (a global row budget is meaningless for an
    incremental feed) or `filter_ratio` (its threshold is frozen at
    the ORIGINAL build's n; re-applying it incrementally would need
    the full in-degree table). Callers maintaining a ratio/nnz-
    filtered graph must rebuild; this function raises if `g` records
    non-default build filters.
    """
    if getattr(g, "build_filters", None):
        raise ValueError(
            f"append_edges requires a GraphTables built with default "
            f"filters; got {g.build_filters} — rebuild with "
            f"build_graph_tables on the concatenated edge list instead"
        )
    P = g.num_partitions
    delta = regex_filter(new_edges).persist()

    new_urls = (
        delta.select(F.col("src").alias("url"))
        .union(delta.select(F.col("dst").alias("url")))
        .distinct()
        .join(g.vertices.select("url"), "url", "left_anti")
    )
    fresh_df, n_fresh = assign_dense_ids(spark, new_urls, P)
    fresh = fresh_df.select((F.col("id") + F.lit(g.n)).alias("id"), "url")
    vertices = g.vertices.union(fresh).repartition(P, "id").localCheckpoint(
        eager=True
    )
    n = g.n + n_fresh

    ids_src = vertices.select(F.col("url").alias("src"), F.col("id").alias("src_id"))
    ids_dst = vertices.select(F.col("url").alias("dst"), F.col("id").alias("dst_id"))
    delta_ids = delta.join(ids_src, "src").join(ids_dst, "dst").select(
        "src_id", "dst_id"
    )

    touched = delta_ids.select("src_id").distinct()
    old = g.weighted_edges.select("src_id", "dst_id")
    untouched_rows = g.weighted_edges.join(touched, "src_id", "left_anti")
    touched_all = (
        old.join(touched, "src_id").union(delta_ids)
    )
    w = Window.partitionBy("src_id")
    touched_rows = touched_all.withColumn(
        "weight", F.lit(1.0) / F.count("*").over(w).cast("double")
    )
    weighted = (
        untouched_rows.select("src_id", "dst_id", "weight")
        .union(touched_rows.select("src_id", "dst_id", "weight"))
        .repartition(P, "src_id")
        .localCheckpoint(eager=True)
    )
    num_edges = weighted.count()
    delta.unpersist()

    return GraphTables(
        vertices=vertices,
        weighted_edges=weighted,
        n=n,
        num_partitions=P,
        num_edges=num_edges,
    )
