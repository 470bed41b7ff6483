"""Per-partition CSR adjacency blocks — north_rule physical layout
("...a salted, hash-partitioned (src,dst) edge table plus per-partition
CSR adjacency blocks").

Reference anchor: the COO -> torch.sparse build step
(/root/reference/pagerank.py:72-76); the reference's single matrix
becomes one CSR^T block per hash partition of the dst_id space.

`write_npy_blocks` materializes the blocks (one pass over the edge
table, numpy inside Arrow batches, .npy arrays on local storage) and
`blocks_spmv` is the consumer behind `pagerank(spmv="blocks")`: one
shuffle-free Spark job per SpMV with the vertex vector broadcast.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edges import GraphTables


@dataclass
class NpyBlockSet:
    """Handle to a materialized set of dst-partitioned CSR^T blocks.

    Physical layout: for each part p (= pmod(murmur3(dst_id), P)) four
    .npy arrays under `block_dir`: p{p}.dst (sorted unique dst ids in
    the part), p{p}.indptr (segment pointers), p{p}.src, p{p}.w (edges
    grouped by dst). Each dst id lives in EXACTLY ONE block, so the
    per-iteration partial results concatenate instead of needing a
    cross-block reduction.

    This is the single-box realization of a bucketed on-disk adjacency
    layout: iteration tasks read their block from the OS page cache
    (zero JVM->Python pipe traffic for the edge data). On a real
    cluster the same blocks live on executor-local storage (or an
    HDFS/object-store cache) bucketed by part_id, and block tasks
    schedule against their bucket — the standard persisted-bucketed-
    table story, with numpy replacing codegen for the per-edge math.
    """

    block_dir: str
    part_ids: list[int]
    num_edges: int
    parts_df: DataFrame  # one row per part, hash-placed by part_id

    def cleanup(self) -> None:
        import shutil

        self.parts_df.unpersist()
        shutil.rmtree(self.block_dir, ignore_errors=True)


def write_npy_blocks(
    spark: SparkSession, g: GraphTables, block_dir: str,
    num_blocks: int | None = None,
) -> NpyBlockSet:
    """One pass over the edge table: repartition by pmod(hash(dst_id), P),
    sort each partition by dst, write the CSR^T arrays as .npy files.
    numpy's np.save writes the raw little-endian buffer — loading is an
    mmap, so iteration reads are page-cache hits after the first touch.

    Block count is deliberately DECOUPLED from the edge table's shuffle
    partitioning: each iteration launches one task per block, and a
    measured ~20 ms serial dispatch rides every Python task (BENCH.md
    round-3 blocks section), so iterating over ~2M-edge shuffle-sized
    blocks pays 10-30x more dispatch than compute. The default sizes
    blocks at one per core wave, capped so a block's src+w arrays stay
    under ~512 MB (16 bytes/edge) of task working set — the same rule a
    real cluster would use (blocks ~ total cores, bounded by
    executor-local memory)."""
    os.makedirs(block_dir, exist_ok=True)
    P = num_blocks
    if P is None:
        cores = spark.sparkContext.defaultParallelism
        P = max(cores, -(-g.num_edges // 32_000_000), 1)
    edges = (
        g.weighted_edges.select(
            F.pmod(F.hash("dst_id"), F.lit(P)).alias("part_id"),
            "src_id",
            "dst_id",
            "weight",
        )
        .repartition(P, "part_id")
        .sortWithinPartitions("part_id", "dst_id")
    )

    def write_blocks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tabs = [pa.Table.from_batches([b]) for b in batches]
        if not tabs:
            return
        t = pa.concat_tables(tabs)
        if t.num_rows == 0:
            return
        pid = t["part_id"].to_numpy()
        src = t["src_id"].to_numpy()
        dst = t["dst_id"].to_numpy()
        w = t["weight"].to_numpy()
        # rows are sorted by (part_id, dst_id): each part_id is one
        # contiguous run, each dst one contiguous segment within it
        for part in np.unique(pid):
            sel = pid == part
            s, d, wt = src[sel], dst[sel], w[sel]
            uniq, counts = np.unique(d, return_counts=True)
            indptr = np.zeros(len(uniq) + 1, dtype=np.int64)
            np.cumsum(counts, out=indptr[1:])
            np.save(f"{block_dir}/p{part}.dst.npy", uniq)
            np.save(f"{block_dir}/p{part}.indptr.npy", indptr)
            np.save(f"{block_dir}/p{part}.src.npy", s)
            np.save(f"{block_dir}/p{part}.w.npy", wt)
            yield pa.RecordBatch.from_arrays(
                [pa.array([int(part)], pa.int32()), pa.array([len(s)], pa.int64())],
                ["part_id", "nnz"],
            )

    manifest = edges.mapInArrow(write_blocks, "part_id int, nnz long").collect()
    part_ids = sorted(r["part_id"] for r in manifest)
    parts_df = (
        spark.createDataFrame([(p,) for p in part_ids], "part_id int")
        .repartition(max(len(part_ids), 1), "part_id")
        .persist()
    )
    parts_df.count()
    return NpyBlockSet(
        block_dir=block_dir,
        part_ids=part_ids,
        num_edges=int(sum(r["nnz"] for r in manifest)),
        parts_df=parts_df,
    )


_BLOCKS_OUT_SCHEMA = "dst long, partial double"


def blocks_spmv(blocks: NpyBlockSet, x: np.ndarray) -> np.ndarray:
    """One SpMV over the block set: returns the dense vector
    y[d] = sum over in-edges w * x[src] (len(x) entries; dsts with no
    in-edges stay 0.0). Blocks own disjoint dst sets, so assembly is a
    single vectorized scatter with no summation.

    ONE Spark job, no shuffle, Arrow at both boundaries:

    * in  — P part ids; x travels as a REAL sc.broadcast (torrent
      distribution: the closure carries only the handle). Closure
      capture instead would py4j-serialize the n x 8 byte vector into
      the job command every iteration — driver-serial, and at 1000
      executors P x 8n bytes fanned out from one driver instead of a
      log-tree.
    * out — `toArrow()` fetches the (dst, partial) rows as contiguous
      Arrow buffers -> zero-copy numpy. The previous `.collect()`
      pickled ~n array elements into Python objects per iteration, a
      driver-serial cost that was the dominant share of the measured
      per-iteration floor at 120M edges (BENCH.md round-3 blocks
      section)."""
    bdir = blocks.block_dir
    sc = blocks.parts_df.sparkSession.sparkContext
    bx = sc.broadcast(x)

    def f(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        xvec = bx.value
        for b in batches:
            for part in b.column("part_id").to_pylist():
                dst = np.load(f"{bdir}/p{part}.dst.npy")
                indptr = np.load(f"{bdir}/p{part}.indptr.npy")
                src = np.load(f"{bdir}/p{part}.src.npy", mmap_mode="r")
                w = np.load(f"{bdir}/p{part}.w.npy", mmap_mode="r")
                contrib = np.asarray(w) * xvec[np.asarray(src)]
                vals = (
                    np.add.reduceat(contrib, indptr[:-1])
                    if len(dst)
                    else np.zeros(0)
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(dst, pa.int64()),
                        pa.array(vals, pa.float64()),
                    ],
                    ["dst", "partial"],
                )

    try:
        t = blocks.parts_df.mapInArrow(f, _BLOCKS_OUT_SCHEMA).toArrow()
    finally:
        bx.unpersist()
    y = np.zeros(len(x), dtype=np.float64)
    y[t["dst"].to_numpy()] = t["partial"].to_numpy()
    return y
