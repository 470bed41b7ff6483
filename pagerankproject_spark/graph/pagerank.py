"""Damped PageRank power iteration — SURVEY.md §2a operators #9-#15.

Reference semantics (/root/reference/pagerank.py:139-205), Eq 5.1 of
*Deeper Inside PageRank*, reproduced literally in compat mode (§2.4):

    x <- alpha * P^T x + (alpha * (x . a) + (1 - alpha)) * v
    x <- x / ||x||_2                      (EVERY iteration — output is a
                                           unit-L2 vector, not a distribution)
    stop when ||x - x_prev||_2 < epsilon

  * a = dangling indicator (src has no out-edges post-filter),
    pagerank.py:149-151
  * v is sum-normalized at build (pagerank.py:132-134) then L2-normalized
    inside the loop (pagerank.py:160) — the double normalization collapses
    to a single L2 normalization, which is what we compute.
  * default x0 = uniform 1/sqrt(n) (pagerank.py:162-165).

Spark execution shape (one pass over edges + ONE scalar action per
iteration):

  contribs = weighted_edges JOIN ranks ON src_id  -> groupBy dst_id SUM
             (weighted_edges is hash-partitioned by src_id once at build;
              ranks stay hash-partitioned by id, so the join needs no
              exchange of the big side; the agg is the per-iteration
              shuffle and partial-aggregates map-side, which also absorbs
              in-degree skew)
  u        = base LEFT JOIN contribs:  alpha*msg + (alpha*dm + 1-alpha)*v
  stats    = ONE aggregate producing (sum u^2, sum u*x_prev, sum x_prev^2,
             sum u over dangling) — from which the driver derives the L2
             norm, the residual ||u/||u|| - x_prev||, and the NEXT
             iteration's dangling mass, so no separate jobs for each.

Lineage is truncated every iteration via localCheckpoint (plan would
otherwise grow linearly — SURVEY §4.3); durable parquet checkpoints with
per-partition lineage + metrics (operator #27/#28) every
`checkpoint_interval` iterations enable resume.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..ingest.edges import GraphTables
from ..io.checkpoint import ParquetCheckpointer
from ..session import loop_shuffle_partitions, no_aqe
from . import local


@dataclass
class PageRankResult:
    ranks: DataFrame  # id: long, url: string, x: double
    iterations: int  # number of iterations executed (reference logs i=0..k)
    residuals: list[float]
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _build_base(
    g: GraphTables, v_expr: Column | None
) -> tuple[DataFrame, int]:
    """base = (id, v, is_dangling), hash-partitioned by id, persisted.

    v: personalization. None -> uniform. Else an indicator/weight column
    expression over the vertices table (url available). Normalized to unit
    L2 (the reference's sum-then-L2 double normalization collapses; §2.4.2).
    Returns (base, dangling_count).
    """
    srcs = g.weighted_edges.select("src_id").distinct()
    base = (
        g.vertices.join(
            srcs.withColumn("has_out", F.lit(True)),
            g.vertices.id == srcs.src_id,
            "left",
        )
        .select(
            "id",
            "url",
            F.col("has_out").isNull().alias("is_dangling"),
            (v_expr if v_expr is not None else F.lit(1.0))
            .cast("double")
            .alias("v_raw"),
        )
    )
    base = base.repartition(g.num_partitions, "id").persist()
    agg = base.agg(
        F.sum(F.col("v_raw") * F.col("v_raw")).alias("v_sq"),
        F.sum(F.col("v_raw")).alias("v_sum"),
        F.sum(F.when(F.col("is_dangling"), 1).otherwise(0)).alias("d_cnt"),
    ).first()
    assert agg["v_sum"] and agg["v_sum"] > 0, "personalization vector sums to 0"
    v_l2 = math.sqrt(agg["v_sq"])
    base = base.withColumn("v", F.col("v_raw") / F.lit(v_l2)).drop("v_raw")
    return base, int(agg["d_cnt"])


def pagerank(
    spark: SparkSession,
    g: GraphTables,
    v_expr: Column | None = None,
    alpha: float = 0.85,
    epsilon: float = 1e-6,
    max_iterations: int = 1000,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 1,
    resume: bool = False,
    job_name: str = "pagerank",
    spmv: str = "dataframe",
    x0_ranks: DataFrame | None = None,
) -> PageRankResult:
    """`spmv` picks the physical SpMV:
      * "dataframe" — join+aggregate, whole-stage codegen (default;
        the safe-at-any-scale path: both edge AND vertex state stay
        distributed);
      * "blocks" — dst-partitioned on-disk CSR blocks + broadcast
        vertex state (ingest/csr.py NpyBlockSet). Edges stay
        DISTRIBUTED (each task streams only its block from local
        storage/page cache); the rank vector travels in the task
        closure and the teleport/normalize/residual math runs on the
        driver with the exact _pagerank_local float64 equations. One
        shuffle-free Spark job per iteration whose pipe traffic is P
        part-ids in and ~n doubles out — measured 74M edges/s/iter at
        45M edges on local[32] vs 25-33M for "dataframe" (BENCH.md).
        The mid-scale regime: right whenever the VERTEX state fits one
        machine (n ~ up to tens of millions) while edges don't have
        to. Checkpoint/resume supported.
      * "csr" — per-partition src-hashed CSR blocks + numpy kernels,
        cogrouped with distributed ranks (operator #8's fully-
        distributed physical layout; keeps vertex state sharded);
      * "local" — iterate in-process (numpy scatter-add) over the
        graph's shared driver-local copy (graph/local.py `local_graph`:
        collected once per GraphTables and reused by connected
        components and label propagation on the same graph). Spark's
        per-job floor (~1 s/iteration) makes distributed iteration
        pointless below a few million edges; this mode runs the SAME
        float64 equations at memory speed (matches the reference's
        single-node throughput at its own scale — BENCH.md). Requires
        the collect to fit maxResultSize (graph/local.py
        `collect_fits`); checkpoint/resume not supported. Metrics
        entries carry "mode": "local".
      * "auto" — "local" when graph/local.py `runs_local` says the
        graph fits (num_edges <= LOCAL_SPMV_MAX_EDGES and the collect
        fits maxResultSize — the same decision CC and LPA take), else
        "blocks" when the vertex state fits the driver budget, else
        "dataframe".
    Same numbers in every mode (tested)."""
    n = g.n
    # Guard the full-edge-table collect BEFORE running any job: an
    # explicit spmv='local' on a large graph would otherwise die mid-
    # collect on spark.driver.maxResultSize with an opaque Py4J error
    # (round-1 verdict item 4). 'auto' falls back to the distributed
    # path instead of raising.
    limit = local._max_result_bytes(spark)
    # blocks mode holds ~5 n-sized float64 arrays on the driver and
    # collects the n-row base once: budget n*40 B against maxResultSize
    blocks_fits = limit == 0 or 40 * g.n <= limit
    if spmv == "auto":
        if local.runs_local(spark, g):
            spmv = "local"
        elif blocks_fits:
            spmv = "blocks"
        else:
            spmv = "dataframe"
    elif spmv == "blocks" and not blocks_fits:
        raise ValueError(
            f"spmv='blocks' keeps the n={g.n} vertex state on the driver "
            f"(~{40 * g.n >> 20} MiB), above spark.driver.maxResultSize "
            f"(~{limit >> 20} MiB). Use spmv='dataframe' (fully "
            f"distributed), or raise the conf."
        )
    elif spmv == "local" and not local.collect_fits(spark, g):
        raise ValueError(
            f"spmv='local' would collect "
            f"~{local._local_collect_estimate(g) >> 20} MiB of edge/vertex "
            f"arrays to the driver, above spark.driver.maxResultSize "
            f"(~{limit >> 20} MiB). Use spmv='dataframe' (distributed), or "
            f"raise spark.driver.maxResultSize if the graph truly fits "
            f"driver memory."
        )
    if spmv == "local":
        if checkpoint_dir or resume:
            raise ValueError("spmv='local' does not support checkpoint/resume")
        return _pagerank_local(
            spark, g, v_expr, alpha, epsilon, max_iterations, x0_ranks
        )
    base, d_cnt = _build_base(g, v_expr)
    if spmv == "blocks":
        return _pagerank_blocks(
            spark, g, base, alpha, epsilon, max_iterations, x0_ranks,
            checkpoint_dir=checkpoint_dir,
            checkpoint_interval=checkpoint_interval,
            resume=resume,
            job_name=job_name,
        )

    ckpt = ParquetCheckpointer(checkpoint_dir, job_name) if checkpoint_dir else None

    start_iter = 0
    residuals: list[float] = []
    metrics: list[dict] = []
    converged = False

    if ckpt and resume:
        info = ckpt.latest()
        if info is not None:
            ranks = (
                ckpt.read(spark, info.iteration)
                .select("id", "x")
                .repartition(g.num_partitions, "id")
                .localCheckpoint(eager=True)
            )
            start_iter = info.iteration + 1
            dm = float(info.metrics["dangling_mass"])
            residuals = list(info.metrics.get("residuals", []))
            if residuals and residuals[-1] < epsilon:
                out = base.select("id", "url").join(ranks, "id")
                return PageRankResult(out, start_iter, residuals, True, metrics)
        else:
            resume = False

    if start_iter == 0 and x0_ranks is not None:
        # warm start (incremental re-rank after append_edges: previous
        # ranks keyed by the SAME stable ids): project onto the current
        # vertex set, unseen vertices get the uniform value, then
        # L2-normalize. Power iteration on a primitive matrix converges
        # to the same fixpoint from any positive start — a near-fixpoint
        # start just gets there in far fewer iterations. One job: the
        # norm and dangling mass ride the checkpoint as an Observation.
        uniform = 1.0 / math.sqrt(n)
        obs0 = Observation()
        seeded = (
            base.join(x0_ranks.withColumnRenamed("x", "x0"), "id", "left")
            .select(
                "id",
                "is_dangling",
                F.coalesce("x0", F.lit(uniform)).alias("u"),
            )
            .observe(
                obs0,
                F.sum(F.col("u") * F.col("u")).alias("s_uu"),
                F.sum(
                    F.when(F.col("is_dangling"), F.col("u")).otherwise(0.0)
                ).alias("s_du"),
            )
        )
        seeded = seeded.select("id", "u").localCheckpoint(eager=True)
        s0 = obs0.get
        nrm0 = math.sqrt(s0["s_uu"])
        ranks = seeded.select("id", (F.col("u") / F.lit(nrm0)).alias("x"))
        dm = s0["s_du"] / nrm0
    elif start_iter == 0:
        # x0 = uniform 1/sqrt(n) (already unit-L2); dangling mass of x0 is
        # exactly d_cnt / sqrt(n) — no job needed.
        x0 = 1.0 / math.sqrt(n)
        ranks = base.select("id", F.lit(x0).alias("x")).localCheckpoint(eager=True)
        dm = d_cnt * x0

    csr_blocks = None
    if spmv == "csr":
        from ..ingest.csr import build_csr_blocks

        csr_blocks = build_csr_blocks(g).persist()
        csr_blocks.count()
    elif spmv != "dataframe":
        raise ValueError(f"unknown spmv impl: {spmv}")

    # size the per-iteration shuffles to the edge table (pure metadata;
    # a no-op at scale where the session default dominates — partition
    # count only changes task granularity and float summation order at
    # the last-ulp level, both inside the engine's parity tolerances)
    with no_aqe(spark), loop_shuffle_partitions(spark, g.num_edges):
        converged, ranks = _run_loop(
            g, base, ranks, dm, alpha, epsilon, max_iterations,
            start_iter, residuals, metrics, ckpt, checkpoint_interval,
            spark=spark, csr_blocks=csr_blocks,
        )
    if csr_blocks is not None:
        csr_blocks.unpersist()

    out = base.select("id", "url").join(ranks, "id")
    return PageRankResult(
        ranks=out,
        iterations=len(residuals),
        residuals=residuals,
        converged=converged,
        metrics=metrics,
    )


def _pagerank_local(
    spark: SparkSession,
    g: GraphTables,
    v_expr: Column | None,
    alpha: float,
    epsilon: float,
    max_iterations: int,
    x0_ranks: DataFrame | None,
) -> PageRankResult:
    """Driver-local iteration over the shared driver copy of the graph
    (graph/local.py; collected once per GraphTables), then the exact
    float64 equations of the distributed loop (same as
    oracle/numpy_ref.power_method) at memory speed. The dangling
    indicator comes from the edge arrays; only a personalization
    vector needs a job of its own."""
    import numpy as np
    import pandas as pd

    n = g.n
    lg = local.local_graph(g)
    src, dst, w = lg.src, lg.dst, lg.weight
    a = (np.bincount(src, minlength=n) == 0).astype(np.float64)
    if v_expr is None:
        v = np.full(n, 1.0 / math.sqrt(n), dtype=np.float64)
    else:
        v_pd = g.vertices.select(
            "id", v_expr.cast("double").alias("v")
        ).toPandas()
        v = np.zeros(n, dtype=np.float64)
        v[v_pd["id"].to_numpy()] = v_pd["v"].to_numpy()
        if not v.sum() > 0:
            raise ValueError("personalization vector sums to 0")
        v = v / np.linalg.norm(v)

    x = np.full(n, 1.0 / math.sqrt(n), dtype=np.float64)
    if x0_ranks is not None:
        x0_pd = x0_ranks.toPandas()
        x[x0_pd["id"].to_numpy()] = x0_pd["x"].to_numpy()
        x = x / np.linalg.norm(x)

    residuals: list[float] = []
    metrics: list[dict] = []
    converged = False
    for i in range(max_iterations):
        t0 = time.time()
        xprev = x
        pt_x = np.zeros(n, dtype=np.float64)
        np.add.at(pt_x, dst, w * x[src])
        dm = float(x @ a)
        x = alpha * pt_x + (alpha * dm + (1.0 - alpha)) * v
        x = x / np.linalg.norm(x)
        residual = float(np.linalg.norm(x - xprev))
        residuals.append(residual)
        metrics.append(
            {"i": i, "residual": residual, "dangling_mass": dm,
             "edges": g.num_edges, "mode": "local",
             "wall_sec": time.time() - t0}
        )
        if residual < epsilon:
            converged = True
            break

    ranks = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n, dtype=np.int64), "url": lg.url, "x": x}),
        "id long, url string, x double",
    )
    return PageRankResult(
        ranks=ranks,
        iterations=len(residuals),
        residuals=residuals,
        converged=converged,
        metrics=metrics,
    )


def _pagerank_blocks(
    spark: SparkSession,
    g: GraphTables,
    base: DataFrame,
    alpha: float,
    epsilon: float,
    max_iterations: int,
    x0_ranks: DataFrame | None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 1,
    resume: bool = False,
    job_name: str = "pagerank",
) -> PageRankResult:
    """Broadcast-vertex iteration over dst-partitioned on-disk CSR
    blocks (ingest/csr.py): edges distributed, n-sized vertex state on
    the driver, exact _pagerank_local float64 equations, one
    shuffle-free Spark job per iteration. See the `pagerank` docstring
    for when this mode wins."""
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd

    from ..ingest.csr import blocks_spmv, write_npy_blocks

    n = g.n
    base_pd = base.select("id", "v", "is_dangling").toPandas()
    v = np.zeros(n, dtype=np.float64)
    v[base_pd["id"].to_numpy()] = base_pd["v"].to_numpy()  # already unit-L2
    a = np.zeros(n, dtype=np.float64)
    a[base_pd.loc[base_pd["is_dangling"], "id"].to_numpy()] = 1.0

    ckpt = ParquetCheckpointer(checkpoint_dir, job_name) if checkpoint_dir else None
    start_iter = 0
    residuals: list[float] = []
    x: "np.ndarray | None" = None
    if ckpt and resume:
        info = ckpt.latest()
        if info is not None:
            ck_pd = ckpt.read(spark, info.iteration).select("id", "x").toPandas()
            x = np.zeros(n, dtype=np.float64)
            x[ck_pd["id"].to_numpy()] = ck_pd["x"].to_numpy()
            start_iter = info.iteration + 1
            residuals = list(info.metrics.get("residuals", []))

    if x is None:
        x = np.full(n, 1.0 / math.sqrt(n), dtype=np.float64)
        if x0_ranks is not None:
            x0_pd = x0_ranks.toPandas()
            x[x0_pd["id"].to_numpy()] = x0_pd["x"].to_numpy()
            x = x / np.linalg.norm(x)

    metrics: list[dict] = []
    converged = bool(residuals) and residuals[-1] < epsilon

    block_dir = tempfile.mkdtemp(prefix="pr-blocks-")
    blocks = write_npy_blocks(spark, g, block_dir)
    try:
        for i in range(start_iter, max_iterations):
            if converged:
                break
            t0 = time.time()
            xprev = x
            pt_x = blocks_spmv(blocks, x)
            dm = float(x @ a)
            x = alpha * pt_x + (alpha * dm + (1.0 - alpha)) * v
            x = x / np.linalg.norm(x)
            residual = float(np.linalg.norm(x - xprev))
            residuals.append(residual)
            it_metrics = {
                "i": i,
                "residual": residual,
                "dangling_mass": dm,
                "edges": g.num_edges,
                "wall_sec": time.time() - t0,
            }
            metrics.append(it_metrics)
            converged = residual < epsilon
            if ckpt and (
                converged
                or i % checkpoint_interval == 0
                or i == max_iterations - 1
            ):
                ranks_pd = pd.DataFrame(
                    {"id": np.arange(n, dtype=np.int64), "x": x}
                )
                ckpt.write(
                    spark.createDataFrame(ranks_pd),
                    i,
                    {
                        "residual": residual,
                        "dangling_mass": dm,
                        "residuals": residuals,
                        "alpha": alpha,
                        "epsilon": epsilon,
                        "n": n,
                        "edges": g.num_edges,
                        "wall_sec": it_metrics["wall_sec"],
                    },
                )
    finally:
        blocks.cleanup()
        shutil.rmtree(block_dir, ignore_errors=True)

    ranks_pd = pd.DataFrame({"id": np.arange(n, dtype=np.int64), "x": x})
    ranks = spark.createDataFrame(ranks_pd)
    out = base.select("id", "url").join(ranks, "id")
    return PageRankResult(
        ranks=out,
        iterations=len(residuals),
        residuals=residuals,
        converged=converged,
        metrics=metrics,
    )


def _run_loop(
    g: GraphTables, base, ranks, dm, alpha, epsilon, max_iterations,
    start_iter, residuals, metrics, ckpt, checkpoint_interval,
    spark=None, csr_blocks: DataFrame | None = None,
) -> tuple[bool, DataFrame]:
    """Iteration body of `pagerank` (split out so the AQE guard wraps it
    cleanly). Returns (converged, final ranks)."""
    converged = False
    we = g.weighted_edges
    prev_state: DataFrame | None = None
    for i in range(start_iter, max_iterations):
        t0 = time.time()
        if csr_blocks is not None:
            from ..ingest.csr import spmv_csr

            contribs = spmv_csr(spark, csr_blocks, ranks, g.num_partitions)
        else:
            contribs = (
                we.join(ranks, we.src_id == ranks.id)
                .groupBy("dst_id")
                .agg(F.sum(F.col("weight") * F.col("x")).alias("msg"))
            )
        teleport = alpha * dm + (1.0 - alpha)
        u_full = (
            base.join(ranks.withColumnRenamed("x", "x_prev"), "id")
            .join(contribs, base.id == contribs.dst_id, "left")
            .select(
                "id",
                "is_dangling",
                "x_prev",
                (
                    F.lit(alpha) * F.coalesce(F.col("msg"), F.lit(0.0))
                    + F.lit(teleport) * F.col("v")
                ).alias("u"),
            )
        )
        # the four scalar reductions ride along with the checkpoint
        # materialization (Observation = CollectMetrics node) — ONE Spark
        # job per iteration instead of checkpoint + separate aggregate
        obs = Observation()
        u_full = u_full.observe(
            obs,
            F.sum(F.col("u") * F.col("u")).alias("s_uu"),
            F.sum(F.col("u") * F.col("x_prev")).alias("s_ux"),
            F.sum(F.col("x_prev") * F.col("x_prev")).alias("s_pp"),
            F.sum(F.when(F.col("is_dangling"), F.col("u")).otherwise(0.0)).alias(
                "s_du"
            ),
        )
        # truncate lineage + materialize once; only (id, u) is retained
        u_df = u_full.select("id", "u").localCheckpoint(eager=True)
        s = obs.get
        norm = math.sqrt(s["s_uu"])
        residual = math.sqrt(
            max(0.0, 1.0 - 2.0 * s["s_ux"] / norm + s["s_pp"])
        )
        dm = s["s_du"] / norm
        residuals.append(residual)

        ranks = u_df.select("id", (F.col("u") / F.lit(norm)).alias("x"))

        it_metrics = {
            "i": i,
            "residual": residual,
            "dangling_mass": dm,
            "edges": g.num_edges,
            "wall_sec": time.time() - t0,
        }
        metrics.append(it_metrics)

        done = residual < epsilon
        if ckpt and (done or i % checkpoint_interval == 0 or i == max_iterations - 1):
            ckpt.write(
                ranks,
                i,
                {
                    "residual": residual,
                    "dangling_mass": dm,
                    "residuals": residuals,
                    "alpha": alpha,
                    "epsilon": epsilon,
                    "n": g.n,
                    "edges": g.num_edges,
                    "wall_sec": it_metrics["wall_sec"],
                },
            )

        if prev_state is not None:
            prev_state.unpersist()
        prev_state = u_df

        if done:
            converged = True
            break
    return converged, ranks


def pagerank_from_edges(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.85,
    epsilon: float = 1e-6,
    max_iterations: int = 1000,
    filter_ratio: float | None = None,
    max_nnz: int | None = None,
    v_expr: Column | None = None,
    **kw,
) -> PageRankResult:
    """Convenience end-to-end: raw (src,dst) string edges -> ranks by url."""
    from ..ingest.edges import build_graph_tables

    g = build_graph_tables(
        spark, edges, max_nnz=max_nnz, filter_ratio=filter_ratio
    )
    return pagerank(
        spark,
        g,
        v_expr=v_expr,
        alpha=alpha,
        epsilon=epsilon,
        max_iterations=max_iterations,
        **kw,
    )
