"""Label propagation (LPA) — SURVEY.md §2b operator #25.

No reference implementation (north_rule mandate). Semantics, chosen for
exact reproducibility (the north_rule requires exact-match outputs):

  * undirected neighborhoods; each synchronous iteration every vertex
    adopts the most frequent label among its neighbors, ties broken by
    MINIMUM label in URL ORDER; isolated vertices keep their own label;
  * stops when no label changes or after max_iterations.

Scale design: iteration state is NOT url strings. Vertices get a dense
`rank_id` strictly increasing in global url order (assign_url_ordered_ids
— range partition + offsets, no single-partition sort), so min-rank_id
tie-breaks are exactly min-url tie-breaks while every per-iteration
shuffle moves longs instead of url strings (order-of-magnitude payload
cut on real web graphs). Urls are joined back once at the end.

Execution shape per iteration (ONE Spark job — the changed-count rides
the localCheckpoint materialization as an Observation):
  counts = sym_edges JOIN labels ON src -> groupBy (dst, label) COUNT
  winner = counts groupBy dst MIN(struct(-count, label))
           -- a fully combinable agg (partial map-side), NOT a window:
           a row_number window partitioned by dst would concentrate a
           hub's rows in one task; min(struct) partial-aggregates and is
           skew-immune.
  changed = SUM(new != old)   (Observation)

`salt_buckets="auto"` (default; round-1 verdict item 6 — parity with
connected_components): probe the symmetrized degree distribution once
and, when a hot vertex would dominate a task, add a salt column
(hash of the message SOURCE, so a hot destination's incoming rows
spread across buckets) and aggregate in two explicit phases
(dst, label, salt) -> (dst, label) before the winner agg — the same
measured-2x-win recipe as CC's salted min aggregation (BENCH.md skew
experiment). Identical labels either way (asserted in tests).

Frontier-restricted late rounds: winner(v) reads only neighbor labels,
so if NO in-neighbor of v changed last round, v's counts — hence its
winner, hence its label — are identical this round. Once the changed
fraction drops below `frontier_threshold` (LPA's long tail: most
vertices freeze early, a shrinking active region keeps flipping), each
round recomputes counts only for AFFECTED destinations (neighbors of
last-round-changed vertices), over ALL of their in-edges — exact, not
approximate. The affected-edge restriction runs against a second edge
copy pre-partitioned by dst (built lazily on first use, so short runs
never pay for it); the changed flag rides the labels checkpoint, so
the frontier is free. Early dense rounds keep the full recompute —
restricting when ~everything changed only adds joins. Identical labels
either way (asserted in tests).

Below the driver-local threshold (graph/local.py `runs_local`: the
same size and maxResultSize decision as `pagerank(spmv="auto")`) the
same synchronous rounds run in numpy over the graph's shared
driver-local copy — count (dst, label) pairs over both edge directions,
keep the max-count label, ties by min url rank (the copy's `rank` is
the same url order as rank_id) — unless the call asks for something
only the distributed loop does (an explicit int `salt_buckets`,
checkpoints or resume, non-default frontier arguments). `iterations`,
per-round `changed` and `converged` are identical on both paths
(tested); local metrics entries carry "mode": "local" where the
distributed ones say "full" or "frontier".
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..ingest.edges import GraphTables, assign_url_ordered_ids
from ..io.checkpoint import ParquetCheckpointer
from ..session import loop_shuffle_partitions, no_aqe
from . import local

# frontier-mode defaults; a call that changes them asks for the
# distributed loop's frontier restriction, so it never runs locally
FRONTIER_THRESHOLD = 0.2
FRONTIER_MIN_EDGES = 1_000_000


@dataclass
class LPAResult:
    labels: DataFrame  # url: string, label: string
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def label_propagation(
    spark: SparkSession,
    g: GraphTables,
    max_iterations: int = 20,
    salt_buckets: int | str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    job_name: str = "lpa",
    frontier_threshold: float = FRONTIER_THRESHOLD,
    frontier_min_edges: int = FRONTIER_MIN_EDGES,
) -> LPAResult:
    if (
        salt_buckets == "auto"
        and checkpoint_dir is None
        and not resume
        and frontier_threshold == FRONTIER_THRESHOLD
        and frontier_min_edges == FRONTIER_MIN_EDGES
        and local.runs_local(spark, g)
    ):
        return _label_propagation_local(spark, g, max_iterations)
    P = g.num_partitions
    ranked = assign_url_ordered_ids(spark, g.vertices, P).persist()
    ids = g.weighted_edges.select("src_id", "dst_id")
    re = (
        ids.join(
            ranked.select(
                F.col("id").alias("src_id"), F.col("rank_id").alias("src")
            ),
            "src_id",
        )
        .join(
            ranked.select(
                F.col("id").alias("dst_id"), F.col("rank_id").alias("dst")
            ),
            "dst_id",
        )
        .select("src", "dst")
    )
    sym = (
        re.union(re.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(P, "src")
        .persist()
    )
    if salt_buckets == "auto":
        # same probe + threshold as connected_components: salt only when
        # a hot vertex would dominate a task (measured win regime);
        # max_deg <= 2*num_edges and the threshold floor is 1M, so on a
        # graph too small to ever reach it skip the probe's count job
        # outright (r3 suite-constant regression fix)
        if 2 * g.num_edges <= 1_000_000:
            salt_buckets = 0
        else:
            max_deg = (
                sym.groupBy("src").count().agg(F.max("count")).first()[0] or 0
            )
            threshold = max(1_000_000, 4 * (2 * g.num_edges) // max(P, 1))
            salt_buckets = 8 if max_deg > threshold else 0
    if salt_buckets > 0:
        sym = sym.withColumn(
            "salt", F.pmod(F.hash("src"), F.lit(salt_buckets))
        ).persist()

    # chg rides the state: 1 = label changed last round (all 1 at start,
    # so round 0 is a full recompute whatever the threshold)
    labels = ranked.select(
        F.col("rank_id").alias("id"),
        F.col("rank_id").alias("label"),
        F.lit(1).alias("chg"),
    ).repartition(P, "id")

    start_iter, converged = 0, False
    ckpt = ParquetCheckpointer(checkpoint_dir, job_name) if checkpoint_dir else None
    if ckpt and resume:
        info = ckpt.latest()
        if info is not None:
            # checkpoints store (id, label); a fresh resume treats every
            # vertex as changed (exact — just forces one full recompute)
            labels = (
                ckpt.read(spark, info.iteration)
                .select("id", "label", F.lit(1).alias("chg"))
                .repartition(P, "id")
            )
            start_iter = info.iteration + 1
            converged = bool(info.metrics.get("converged", False))

    labels = labels.localCheckpoint(eager=True)
    sym_by_dst = None  # lazily-built dst-partitioned copy (frontier mode)
    prev_changed = None
    metrics: list[dict] = []
    it = start_iter
    # size the rounds to the symmetrized edges (no-op at scale)
    with no_aqe(spark), loop_shuffle_partitions(spark, 2 * g.num_edges):
        while it < max_iterations and not converged:
            t0 = time.time()
            # frontier mode pays a dst-partitioned adjacency copy plus
            # two extra joins per round; on a small graph a full
            # recompute is one cheap job, so the tail restriction only
            # engages past 1M symmetrized edges (mode choice never
            # affects values — exactness argument below)
            frontier_mode = (
                prev_changed is not None
                and prev_changed <= frontier_threshold * g.n
                and 2 * g.num_edges > frontier_min_edges
            )
            if frontier_mode:
                if sym_by_dst is None:
                    sym_by_dst = sym.repartition(P, "dst").persist()
                # affected destinations = out-neighbors of last round's
                # changed vertices; sym is partitioned on src, so only
                # the (small) changed set and the dst list shuffle
                chgd = labels.filter(F.col("chg") == 1).select(
                    F.col("id").alias("cid")
                )
                aff = (
                    sym.join(chgd, sym.src == chgd.cid, "left_semi")
                    .select("dst")
                    .distinct()
                )
                # ALL in-edges of affected dsts (exactness: the winner
                # needs the full neighbor-label multiset, not the delta)
                msg_edges = sym_by_dst.join(aff, "dst", "left_semi")
            else:
                msg_edges = sym
            if salt_buckets > 0:
                # explicit two-phase count: (v, label, salt) partial then
                # (v, label) final — splits a hot destination's incoming
                # rows across salt buckets (operator #23 pattern)
                counts = (
                    msg_edges.join(labels, msg_edges.src == labels.id)
                    .groupBy(F.col("dst").alias("v"), "label", "salt")
                    .agg(F.count("*").alias("c0"))
                    .groupBy("v", "label")
                    .agg(F.sum("c0").alias("cnt"))
                )
            else:
                counts = (
                    msg_edges.join(labels, msg_edges.src == labels.id)
                    .groupBy(F.col("dst").alias("v"), "label")
                    .agg(F.count("*").alias("cnt"))
                )
            winner = counts.groupBy("v").agg(
                F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("label"))).alias("w")
            ).select("v", F.col("w.label").alias("new_in"))
            obs = Observation()
            staged = (
                labels.drop("chg")
                .join(winner, labels.id == winner.v, "left")
                .select(
                    "id",
                    F.coalesce(F.col("new_in"), F.col("label")).alias("label"),
                    F.when(
                        F.coalesce(F.col("new_in"), F.col("label"))
                        != F.col("label"),
                        1,
                    )
                    .otherwise(0)
                    .alias("chg"),
                )
                .observe(obs, F.sum("chg").alias("c"))
            )
            labels = staged.localCheckpoint(eager=True)
            changed = int(obs.get["c"])
            metrics.append(
                {
                    "i": it,
                    "changed": changed,
                    "mode": "frontier" if frontier_mode else "full",
                    "wall_sec": time.time() - t0,
                }
            )
            prev_changed = changed
            converged = changed == 0
            if ckpt and (converged or it % checkpoint_interval == 0):
                ckpt.write(
                    labels.select("id", "label"),
                    it,
                    {"changed": changed, "converged": converged},
                )
            it += 1
    if sym_by_dst is not None:
        sym_by_dst.unpersist()

    out = (
        labels.join(ranked.select(F.col("rank_id").alias("id"), "url"), "id")
        .join(
            ranked.select(
                F.col("rank_id").alias("label"), F.col("url").alias("label_url")
            ),
            "label",
        )
        .select("url", F.col("label_url").alias("label"))
    )
    sym.unpersist()
    return LPAResult(
        labels=out,
        iterations=it - start_iter,
        converged=converged,
        metrics=metrics,
    )


def _label_propagation_local(
    spark: SparkSession, g: GraphTables, max_iterations: int
) -> LPAResult:
    """The synchronous LPA rounds in numpy over `local.local_graph(g)`,
    labels in url-rank space: count (dst, label) pairs over both edge
    directions (self-loops and parallel edges count like in the
    distributed join), then per dst the max count, ties by min rank."""
    lg = local.local_graph(g)
    n = max(g.n, 1)
    s = np.concatenate([lg.src, lg.dst])
    d = np.concatenate([lg.dst, lg.src])
    lab = lg.rank.copy()
    metrics: list[dict] = []
    converged = False
    while len(metrics) < max_iterations and not converged:
        t0 = time.time()
        keys, cnt = np.unique(d * n + lab[s], return_counts=True)
        v, lv = np.divmod(keys, n)
        # keys are sorted by (v, label) and lexsort is stable, so the
        # first row of each v is its max count with the min label
        order = np.lexsort((-cnt, v))
        v, lv = v[order], lv[order]
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = lab.copy()
        new[v[first]] = lv[first]
        changed = int(np.count_nonzero(new != lab))
        metrics.append(
            {"i": len(metrics), "changed": changed, "mode": "local",
             "wall_sec": time.time() - t0}
        )
        lab = new
        converged = changed == 0
    out = spark.createDataFrame(
        pd.DataFrame({"url": lg.url, "label": lg.url_by_rank()[lab]}),
        "url string, label string",
    )
    return LPAResult(
        labels=out,
        iterations=len(metrics),
        converged=converged,
        metrics=metrics,
    )
