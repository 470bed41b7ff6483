"""Connected components via iterative min-label propagation — SURVEY.md
§2b operator #24 (north_rule: "connected components via iterative
min-label hash-join propagation with large-vertex skew salting").

No reference implementation exists (the reference computes only
PageRank); semantics: undirected components, output keyed by url with
the component labeled by its minimum url (exact-match per north_rule).

`min_label_fixpoint` is the engine's one min-label round and loop:
join, MIN grouped by dst, least(old, min_in), with the changed count
riding the round's localCheckpoint (one Spark job per round), optional
skew salting and ParquetCheckpointer cadence/resume. Connected
components runs it over the symmetrized edge table; dedup/clusters.py,
SCAN's core components (scan.py) and SCC's forward coloring (scc.py)
call the same function.

Internally labels are dense long ids (cheap shuffles); min-id and
min-url induce the same partition of the vertex set, so after
convergence each component is relabeled by its minimum url for the
exact-match contract.

Below the driver-local threshold (graph/local.py `runs_local`: the
same size and maxResultSize decision as `pagerank(spmv="auto")`) the
same synchronous rounds run in numpy over the graph's shared
driver-local copy instead — `np.minimum.at` over both edge directions,
no Spark job per round — unless the call asks for something only the
distributed loop does (an explicit int `salt_buckets`, checkpoints or
resume, `init_labels`). `iterations`, per-round `changed` and
`converged` are identical on both paths (tested); local metrics entries
carry "mode": "local".
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..ingest.edges import GraphTables
from ..io.checkpoint import ParquetCheckpointer
from ..session import loop_shuffle_partitions, no_aqe
from . import local


@dataclass
class ComponentsResult:
    components: DataFrame  # url: string, component: string (min url)
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


@dataclass
class MinLabelFixpoint:
    labels: DataFrame  # id, label
    iterations: int  # rounds run by this call (a resume continues the count)
    converged: bool
    max_iterations: int
    metrics: list[dict] = field(default_factory=list)

    def labels_or_raise(self, op: str) -> DataFrame:
        """`labels`, or RuntimeError naming `op` and the round cap when
        the cap ran out before a round changed nothing."""
        if not self.converged:
            raise RuntimeError(
                f"{op}: min-label propagation still changing after "
                f"max_iterations={self.max_iterations}; raise max_iterations"
            )
        return self.labels


def min_label_fixpoint(
    edges: DataFrame,
    labels: DataFrame,
    max_iterations: int,
    num_partitions: int | None = None,
    salt_buckets: int = 0,
    checkpointer: ParquetCheckpointer | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
) -> MinLabelFixpoint:
    """Min-label propagation to a fixpoint — the one round behind
    connected components, near-dup clusters, SCAN's core components and
    SCC's forward coloring. Each round every id takes least(own label,
    MIN label over its in-edges src -> dst); ids without in-edges keep
    theirs. Stops when a round changes nothing (`converged`) or after
    `max_iterations` rounds.

    `edges` (src, dst): message edges; undirected callers pass both
    directions. `labels` (id, label): the start, any orderable type;
    hash-partitioned by id into `num_partitions` when given, then
    checkpointed. The caller owns the AQE / shuffle-partition context.

    Per round: edges JOIN labels ON src -> GROUP BY dst MIN(label) (min
    is algebraic: map-side partial aggregation absorbs in-degree skew;
    with `salt_buckets` > 0 it is an explicit two-phase (dst, salt) ->
    dst reduction that splits hot destination keys) -> labels LEFT JOIN
    msgs. The changed count SUM(new < old) rides the round's
    localCheckpoint as an Observation: one Spark job per round.

    `checkpointer` writes the labels every `checkpoint_interval` rounds
    and at convergence; with `resume` the loop continues from its latest
    committed round instead of `labels` (round numbers in `metrics`
    continue too)."""
    it, converged = 0, False
    if checkpointer and resume:
        info = checkpointer.latest()
        if info is not None:
            labels = checkpointer.read(labels.sparkSession, info.iteration)
            it = info.iteration + 1
            converged = bool(info.metrics.get("converged", False))
    start = it
    if num_partitions is not None:
        labels = labels.repartition(num_partitions, "id")
    labels = labels.localCheckpoint(eager=True)
    salt = ["salt"] if salt_buckets > 0 else []
    if salt:
        edges = edges.withColumn(
            "salt", F.pmod(F.hash("src"), F.lit(salt_buckets))
        ).persist()
    metrics: list[dict] = []
    while it < max_iterations and not converged:
        t0 = time.time()
        incoming = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"), *salt, "label"
        )
        if salt:
            incoming = incoming.groupBy("id", "salt").agg(
                F.min("label").alias("label")
            )
        msgs = incoming.groupBy("id").agg(F.min("label").alias("min_in"))
        obs = Observation()
        staged = (
            labels.join(msgs, "id", "left")
            .select(
                "id",
                F.least("label", F.coalesce("min_in", "label")).alias("new_label"),
                F.col("label").alias("old_label"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("new_label") < F.col("old_label"), 1).otherwise(0)
                ).alias("c"),
            )
        )
        # changed-count rides the checkpoint materialization: 1 job/round
        labels = staged.select(
            "id", F.col("new_label").alias("label")
        ).localCheckpoint(eager=True)
        changed = int(obs.get["c"] or 0)  # SUM over no rows is NULL
        metrics.append({"i": it, "changed": changed, "wall_sec": time.time() - t0})
        converged = changed == 0
        if checkpointer and (converged or it % checkpoint_interval == 0):
            checkpointer.write(labels, it, {"changed": changed, "converged": converged})
        it += 1
    if salt:
        edges.unpersist()
    return MinLabelFixpoint(labels, it - start, converged, max_iterations, metrics)


def connected_components(
    spark: SparkSession,
    g: GraphTables,
    max_iterations: int = 100,
    salt_buckets: int | str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    job_name: str = "components",
    init_labels: DataFrame | None = None,
) -> ComponentsResult:
    """`salt_buckets="auto"` (default) probes the symmetrized degree
    distribution once and enables salting only when a hot vertex would
    dominate a task (max degree > max(1M, 4 * edges/partitions)) — the
    measured regime where the salted two-phase aggregation wins 2x+
    (BENCH.md skew experiment). Pass 0 to force off, an int to force
    a bucket count.

    `init_labels` warm-starts from a previous run's output (url,
    component) — the incremental-maintenance path after `append_edges`:
    adding edges can only MERGE components, and min-propagation from
    any per-old-component-constant start converges to one value per NEW
    component (each old component starts uniform; new vertices start at
    their own id), so the final min-url relabeling yields exactly the
    cold-rebuild output while iterating only until the merged regions
    settle — O(delta diameter), not O(graph diameter). Vertices absent
    from `init_labels` (new in this crawl) fall back to their own id.
    Ignored when `resume` finds a checkpoint (the checkpoint is newer
    state)."""
    if (
        salt_buckets == "auto"
        and checkpoint_dir is None
        and not resume
        and init_labels is None
        and local.runs_local(spark, g)
    ):
        return _components_local(spark, g, max_iterations)
    P = g.num_partitions
    # symmetrize once; duplicates are harmless under MIN
    e = g.weighted_edges.select(
        F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
    )
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(P, "src")
        .persist()
    )
    if salt_buckets == "auto":
        # max_deg <= 2*num_edges, and the threshold floor is 1M — on a
        # graph too small to ever reach it the probe cannot trigger, so
        # skip its count job outright (r3 suite-constant regression fix)
        if 2 * g.num_edges <= 1_000_000:
            salt_buckets = 0
        else:
            max_deg = (
                sym.groupBy("src").count().agg(F.max("count")).first()[0] or 0
            )
            threshold = max(1_000_000, 4 * (2 * g.num_edges) // max(P, 1))
            salt_buckets = 8 if max_deg > threshold else 0

    labels = g.vertices.select("id", F.col("id").alias("label"))
    ckpt = ParquetCheckpointer(checkpoint_dir, job_name) if checkpoint_dir else None
    if init_labels is not None and not (resume and ckpt and ckpt.latest()):
        # map the previous output's representative urls to CURRENT dense
        # ids (append_edges keeps old ids stable, but the representative
        # is keyed by url); unseen vertices start at their own id.
        # checkpointed leaf: init_labels can share lineage with this
        # graph, and Spark's ambiguous self-join resolution over shared
        # plans can silently match zero rows (seen in incremental_scc).
        init = init_labels.select("url", "component").localCheckpoint(eager=True)
        rep = g.vertices.select(
            F.col("url").alias("component"), F.col("id").alias("warm")
        )
        warm = init.join(rep, "component").select("url", "warm")
        labels = g.vertices.join(warm, "url", "left").select(
            "id", F.coalesce("warm", F.col("id")).alias("label")
        )

    # size the min-label rounds to the symmetrized edges (no-op at scale)
    with no_aqe(spark), loop_shuffle_partitions(spark, 2 * g.num_edges):
        fix = min_label_fixpoint(
            sym,
            labels,
            max_iterations,
            num_partitions=P,
            salt_buckets=salt_buckets,
            checkpointer=ckpt,
            checkpoint_interval=checkpoint_interval,
            resume=resume,
        )

    # relabel components by their minimum url (exact-match output contract)
    out = _relabel_min_url(g, fix.labels)
    sym.unpersist()
    return ComponentsResult(
        components=out,
        iterations=fix.iterations,
        converged=fix.converged,
        metrics=fix.metrics,
    )


def _components_local(
    spark: SparkSession,
    g: GraphTables,
    max_iterations: int,
    shortcut_after: int | None = None,
) -> ComponentsResult:
    """Min-label rounds in numpy over `local.local_graph(g)`: each
    round every vertex takes the min label over both edge directions,
    synchronously — the distributed loop's round, so the same
    `changed` per round.

    From round `shortcut_after` on (connected_components_auto) each
    round also hooks each label's root onto the smaller label of every
    edge and then jumps pointers to a fixpoint (lab <- lab[lab]) —
    Shiloach-Vishkin-style hooking plus shortcutting, O(log n) rounds
    even on a chain, where plain min-label needs one per unit of
    diameter. Labels only ever decrease and stay inside their
    component, so lab[v] <= v holds and the jumps terminate; a round
    that changes nothing leaves every edge with equal labels at both
    ends, i.e. each component labeled by its minimum id — the same
    partition as plain min-label."""
    lg = local.local_graph(g)
    src, dst = lg.src, lg.dst
    lab = np.arange(g.n, dtype=np.int64)
    metrics: list[dict] = []
    converged = False
    while len(metrics) < max_iterations and not converged:
        t0 = time.time()
        new = lab.copy()
        np.minimum.at(new, dst, lab[src])
        np.minimum.at(new, src, lab[dst])
        if shortcut_after is not None and len(metrics) >= shortcut_after:
            np.minimum.at(new, lab[src], lab[dst])
            np.minimum.at(new, lab[dst], lab[src])
            while not np.array_equal(jumped := new[new], new):
                new = jumped
        changed = int(np.count_nonzero(new < lab))
        metrics.append(
            {"i": len(metrics), "changed": changed, "mode": "local",
             "wall_sec": time.time() - t0}
        )
        lab = new
        converged = changed == 0
    # relabel each label class by its minimum url (exact-match contract)
    rep = np.full(g.n, g.n, dtype=np.int64)
    np.minimum.at(rep, lab, lg.rank)
    out = spark.createDataFrame(
        pd.DataFrame({"url": lg.url, "component": lg.url_by_rank()[rep[lab]]}),
        "url string, component string",
    )
    return ComponentsResult(
        components=out,
        iterations=len(metrics),
        converged=converged,
        metrics=metrics,
    )


def _relabel_min_url(g: GraphTables, labels: DataFrame) -> DataFrame:
    """(id, label) -> (url, component=min url of the label class)."""
    v = g.vertices
    lab_urls = labels.join(v, "id").select("url", "label")
    rep = lab_urls.groupBy("label").agg(F.min("url").alias("component"))
    return lab_urls.join(rep, "label").select("url", "component")


def connected_components_auto(
    spark: SparkSession,
    g: GraphTables,
    max_iterations: int = 100,
    probe_rounds: int = 8,
    decay_threshold: float = 0.1,
) -> ComponentsResult:
    """Automatic algorithm pick between min-label propagation
    (`connected_components`, O(diameter) rounds, cheapest per round)
    and large/small-star contraction (`connected_components_twophase`,
    O(log^2 n) rounds, ~2x the per-round cost).

    The probe IS the work: run min-propagation for `probe_rounds`
    iterations. If it converges, the graph was low-diameter and nothing
    was wasted. Otherwise read the changed-count trajectory the loop
    already records: on low-diameter graphs the count collapses
    geometrically once labels meet, while on high-diameter structure
    (chains, tendrils) it stays near-flat because only the frontier of
    each component moves per round. If the last probe round still
    changed more than `decay_threshold` of the first round's count,
    switch to star contraction (the diameter-243 BENCH chain: 243
    propagation iterations vs 9 contraction rounds, 8x wall); if the
    count is already collapsing, keep propagating, warm-started from
    the probe's labels via the tested `init_labels` path (per-component-
    constant starts are exactly what it accepts), so probe work is
    never discarded on the propagate branch.

    Outputs are identical either way (both relabel by min url; tested
    against each other and the union-find oracle). Metrics from all
    phases are concatenated, each entry tagged with "algo".

    Below the driver-local threshold (graph/local.py `runs_local`)
    there is no probe decision and no hand-off: one driver-local loop
    runs the probe's plain min-label rounds (so a graph that converges
    inside the probe reports the same rounds and changed counts as the
    distributed auto), then, from round `probe_rounds` on, adds root
    hooking and pointer jumping, which converge in O(log n) further
    rounds whatever the diameter, to the same partition and min-url
    labels. Its entries are tagged "algo": "local" (and
    "mode": "local")."""
    if local.runs_local(spark, g):
        res = _components_local(
            spark, g, max_iterations, shortcut_after=probe_rounds
        )
        for m in res.metrics:
            m["algo"] = "local"
        return res
    probe = connected_components(
        spark, g, max_iterations=min(probe_rounds, max_iterations)
    )
    for m in probe.metrics:
        m["algo"] = "minlabel"
    if probe.converged or probe_rounds >= max_iterations:
        return probe

    first = max(probe.metrics[0]["changed"], 1)
    last = probe.metrics[-1]["changed"]
    if last > decay_threshold * first:
        rest = connected_components_twophase(spark, g)
        algo = "twophase"
    else:
        rest = connected_components(
            spark,
            g,
            max_iterations=max_iterations - probe_rounds,
            init_labels=probe.components,
        )
        algo = "minlabel"
    for m in rest.metrics:
        m["algo"] = algo
    return ComponentsResult(
        components=rest.components,
        iterations=probe.iterations + rest.iterations,
        converged=rest.converged,
        metrics=probe.metrics + rest.metrics,
    )


def connected_components_twophase(
    spark: SparkSession,
    g: GraphTables,
    max_rounds: int = 64,
) -> ComponentsResult:
    """Connected components via alternating large-star / small-star
    edge rewriting (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond" — the Cracker/two-phase family), converging
    in O(log^2 n) ROUNDS instead of min-propagation's O(diameter)
    iterations.

    Why a second algorithm: web graphs have long tendrils and chain
    structures; a diameter-D region costs `connected_components` D
    shuffle rounds, while star-contraction collapses it in ~log^2
    rounds. At 100 TB the round count IS the wall clock (each round is
    a full shuffle), so on high-diameter inputs this is the scale path;
    on low-diameter inputs the default min-propagation wins (fewer,
    cheaper phases per round). Both produce the identical partition and
    the identical min-url labels (exact-match tested against each other
    and the union-find oracle).

    Per round, on the current edge multiset E (dense long ids):

      large-star: for each u, m = min(N(u) ∪ {u}); rewrite every edge
        (u, v) with v > u into (v, m). Strictly-larger neighbors hook
        onto u's minimum.
      small-star: orient each edge big->small; for each u,
        m = min(N_<=(u)); rewrite to (v, m) for every smaller neighbor
        v and add (u, m). Smaller neighbors and u itself hook onto the
        minimum.

    Both phases are one groupBy(MIN) + one equi-join + DISTINCT —
    map-side-combinable aggregates, so hub skew partial-aggregates
    away; the intermediate edge count never exceeds |E| + |V|. The
    fixpoint is a star forest: every vertex points at its component's
    minimum id. The changed-edge count of each phase rides the
    checkpoint materialization as an Observation (2 jobs per round);
    converged when a full round rewrites nothing.
    """
    P = g.num_partitions
    e = (
        g.weighted_edges.select(
            F.col("src_id").alias("u"), F.col("dst_id").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(P, "u")
        .localCheckpoint(eager=True)
    )
    verts = g.vertices.select("id").repartition(P, "id")

    metrics: list[dict] = []
    rounds, converged = 0, False
    with no_aqe(spark), loop_shuffle_partitions(spark, 2 * g.num_edges):
        while rounds < max_rounds and not converged:
            t0 = time.time()
            # --- large-star ---
            nbr = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = nbr.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m")
            )
            obs_l = Observation()
            rewired = (
                nbr.filter(F.col("v") > F.col("u"))
                .join(mins, "u")
                .observe(
                    obs_l,
                    F.sum(
                        F.when(F.col("m") != F.col("u"), 1).otherwise(0)
                    ).alias("c"),
                )
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            e = (
                rewired.filter(F.col("u") != F.col("v"))
                .distinct()
                .repartition(P, "u")
                .localCheckpoint(eager=True)
            )
            changed_large = int(obs_l.get["c"] or 0)

            # --- small-star ---
            d = e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            mins = d.groupBy("u").agg(F.min("v").alias("m"))
            obs_s = Observation()
            rewired = (
                d.join(mins, "u")
                .observe(
                    obs_s,
                    F.sum(
                        F.when(F.col("m") != F.col("v"), 1).otherwise(0)
                    ).alias("c"),
                )
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(mins.select(F.col("u"), F.col("m").alias("v")))
            )
            e = (
                rewired.filter(F.col("u") != F.col("v"))
                .distinct()
                .repartition(P, "u")
                .localCheckpoint(eager=True)
            )
            changed_small = int(obs_s.get["c"] or 0)

            metrics.append(
                {
                    "round": rounds,
                    "changed_large": changed_large,
                    "changed_small": changed_small,
                    "wall_sec": time.time() - t0,
                }
            )
            converged = changed_large == 0 and changed_small == 0
            rounds += 1

    # fixpoint edges form a star forest (non-root, root); roots and
    # isolated vertices label themselves. min() guards the not-yet-
    # converged (max_rounds hit) case where a node still has two labels.
    labels = verts.join(
        e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("label")),
        "id",
        "left",
    ).select("id", F.coalesce("label", F.col("id")).alias("label"))
    return ComponentsResult(
        components=_relabel_min_url(g, labels),
        iterations=rounds,
        converged=converged,
        metrics=metrics,
    )
