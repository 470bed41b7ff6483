"""Strongly connected components — engine-added directed-graph operator
(no SURVEY §2 number; companion of #24 connected components).

The reference computes only PageRank; SCC is the canonical *directed*
analysis of a web link graph (the Broder et al. 2000 "bow-tie": one
giant SCC, IN/OUT tendrils, disconnected islands). Public algorithm:
iterative trimming + forward min-coloring + backward marking (Orzan
2004 / FW-BW-Trim, the standard distributed SCC recipe — Tarjan's
stack DFS does not distribute).

Per round over the remaining subgraph:

  1. TRIM to fixpoint: a vertex with no in-edges or no out-edges in
     the remaining graph cannot lie on a directed cycle — it is a
     singleton SCC. Removing it may expose new trim candidates, so
     iterate. This alone finishes any DAG portion (most of a web
     graph's vertices) in diameter-many cheap rounds.
  2. FORWARD coloring to fixpoint: color(v) = min id u that reaches v
     (graph/components.py `min_label_fixpoint` over the directed edges,
     init color(v) = v).
  3. BACKWARD marking to fixpoint: pivots are vertices with
     color(v) == v; mark u when an edge u -> v has v marked and
     color(u) == color(v). Marked vertices form complete SCCs: the
     color class of a pivot c is exactly the set c reaches through
     vertices of color c, and every v -> c path from a same-colored v
     stays inside the class (any intermediate w has color(w) = c:
     c reaches w through v, and a smaller/higher-priority reacher of
     w would also reach c, contradicting color(c) = c). The pivot is
     the minimum id in its SCC for the same reason.
  4. Assign marked vertices scc = color, remove them, repeat. Every
     round removes at least each color class's pivot SCC, so the loop
     terminates.

All DataFrame joins/aggs; every fixpoint runs one Spark job per
iteration (Observation-borne changed-count riding a localCheckpoint,
the pattern shared with pagerank/components/kcore), and a coloring or
marking fixpoint still changing after `max_iterations` rounds raises
RuntimeError. Labels are dense long ids in flight; the output relabels
each SCC by its minimum url (components.py `_relabel_min_url`; ids are
not url-ordered — ingest/edges.py:76).

Scale notes (100 TB): trimming is two semi-joins per iteration on an
ever-shrinking edge set; coloring/marking shuffle 8-byte ids with
map-side-combinable MIN/MAX aggregates, so web-scale in-degree skew
partial-aggregates away exactly as in connected_components. The giant
SCC resolves in one coloring round; the known adversarial case
(a long chain of small cycles with adversarial id order) degrades to
O(chain length) rounds — the documented FW-BW-Trim behavior, bounded
by max_rounds.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..ingest.edges import GraphTables
from ..session import loop_shuffle_partitions, no_aqe
from .components import _relabel_min_url, min_label_fixpoint


@dataclass
class SCCResult:
    components: DataFrame  # url: string, component: string (min url of the SCC)
    rounds: int
    metrics: list[dict] = field(default_factory=list)


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def strongly_connected_components(
    spark: SparkSession,
    g: GraphTables,
    max_rounds: int = 50,
    max_iterations: int = 200,
) -> SCCResult:
    """Exact SCCs of the directed graph; every vertex appears once,
    labeled by the minimum url of its component (singletons label
    themselves — same output contract as connected_components)."""
    P = g.num_partitions
    edges = _ckpt(
        g.weighted_edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .repartition(P, "src_id")
    )
    verts = _ckpt(g.vertices.select("id").repartition(P, "id"))

    assigned: list[DataFrame] = []  # (id, label) fragments, each checkpointed
    metrics: list[dict] = []
    rounds = 0

    # size the many FW/BW/trim rounds to the edge table (no-op at scale)
    with no_aqe(spark), loop_shuffle_partitions(spark, g.num_edges):
        while rounds < max_rounds:
            t0 = time.time()
            # --- 1. trim: peel no-in or no-out vertices as singletons ---
            while True:
                srcs = edges.select(F.col("src_id").alias("id")).distinct()
                dsts = edges.select(F.col("dst_id").alias("id")).distinct()
                live = _ckpt(verts.join(srcs, "id", "semi").join(dsts, "id", "semi"))
                n_live = live.count()
                n_trimmed = verts.count() - n_live
                if n_trimmed > 0:
                    assigned.append(
                        _ckpt(
                            verts.join(live, "id", "anti").select(
                                "id", F.col("id").alias("label")
                            )
                        )
                    )
                    verts = live
                    edges = _ckpt(
                        edges.join(
                            live.select(F.col("id").alias("src_id")), "src_id", "semi"
                        ).join(
                            live.select(F.col("id").alias("dst_id")), "dst_id", "semi"
                        )
                    )
                else:
                    verts = live
                    break
            if verts.isEmpty():
                break

            # --- 2. forward coloring: color(v) = min id reaching v ---
            color = min_label_fixpoint(
                edges.select(
                    F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
                ),
                verts.select("id", F.col("id").alias("label")),
                max_iterations,
                num_partitions=P,
            ).labels_or_raise("strongly_connected_components forward coloring")

            # --- 3. backward marking from pivots within color classes ---
            state = _ckpt(
                color.select(
                    "id",
                    F.col("label").alias("color"),
                    (F.col("id") == F.col("label")).alias("marked"),
                ).repartition(P, "id")
            )
            for _ in range(max_iterations):
                # message to u along u -> v: v's (marked, color); u adopts
                # marked when some same-colored out-neighbor is marked.
                msgs = (
                    edges.join(state, edges.dst_id == state.id)
                    .select(F.col("src_id").alias("id"), "color", "marked")
                    .groupBy("id", F.col("color").alias("mcolor"))
                    .agg(F.max(F.col("marked").cast("int")).alias("m"))
                )
                obs = Observation()
                staged = (
                    state.join(
                        msgs,
                        (state.id == msgs.id) & (state.color == msgs.mcolor),
                        "left",
                    )
                    .select(
                        state.id,
                        state.color,
                        (
                            state.marked
                            | (F.coalesce(F.col("m"), F.lit(0)) == 1)
                        ).alias("new_marked"),
                        state.marked.alias("old_marked"),
                    )
                    .observe(
                        obs,
                        F.sum(
                            F.when(
                                F.col("new_marked") & ~F.col("old_marked"), 1
                            ).otherwise(0)
                        ).alias("c"),
                    )
                )
                state = _ckpt(
                    staged.select("id", "color", F.col("new_marked").alias("marked"))
                )
                if obs.get["c"] == 0:
                    break
            else:
                raise RuntimeError(
                    "strongly_connected_components backward marking: still "
                    f"changing after max_iterations={max_iterations}; raise "
                    "max_iterations"
                )

            # --- 4. settle marked SCCs, shrink the remaining graph ---
            done = _ckpt(
                state.filter("marked").select("id", F.col("color").alias("label"))
            )
            assigned.append(done)
            verts = _ckpt(verts.join(done.select("id"), "id", "anti"))
            edges = _ckpt(
                edges.join(
                    done.select(F.col("id").alias("src_id")), "src_id", "anti"
                ).join(done.select(F.col("id").alias("dst_id")), "dst_id", "anti")
            )
            metrics.append({"round": rounds, "wall_sec": time.time() - t0})
            rounds += 1
            if verts.isEmpty():
                break

    labels = assigned[0]
    for frag in assigned[1:]:
        labels = labels.union(frag)
    # each SCC labeled by its minimum url (exact-match output contract;
    # ids are not url-ordered so min-id != min-url)
    return SCCResult(
        components=_relabel_min_url(g, labels), rounds=rounds, metrics=metrics
    )


def incremental_scc(
    spark: SparkSession,
    prev_components: DataFrame,
    prev_edges: DataFrame,
    delta_edges: DataFrame,
    max_rounds: int = 50,
) -> DataFrame:
    """Maintain SCCs over a crawl delta WITHOUT re-running on the raw
    graph: adding edges only MERGES SCCs (never splits), so contracting
    the previous components to supernodes preserves the answer — run
    SCC on the condensation plus the mapped delta, then expand.

      condensed = distinct((label(s), label(d)) for (s,d) in old ∪ delta)

    where label(v) = previous component for old vertices, v itself for
    vertices first seen in the delta. The condensation's SCCs are
    exactly the merged components; joining back through the previous
    labels yields per-vertex components identical to a cold rebuild on
    the concatenated edge list (min-url labels are preserved because
    each supernode is named by its component's min url).

    Scale: the condensation carries one node per previous SCC and only
    the distinct inter-component edges — on a bow-tie web graph orders
    of magnitude smaller than the raw edge table — plus the delta.

    `prev_edges`/`delta_edges`: raw (src,dst) string edges (the same
    inputs build_graph_tables takes; the drop-regex is re-applied by
    the build). Returns (url, component) over all vertices.
    """
    from ..ingest.edges import build_graph_tables, regex_filter

    # break lineage at the boundary: the condensation (and hence the
    # SCC output below) is BUILT FROM lab, so the expansion joins
    # against lab are self-joins over shared plans — Spark's ambiguous
    # self-join resolution silently matches zero rows. A checkpointed
    # lab is a fresh leaf on both sides.
    lab = prev_components.select("url", "component").localCheckpoint(eager=True)
    mapped_old = (
        prev_edges.join(lab.withColumnRenamed("url", "src"), "src")
        .withColumnRenamed("component", "csrc")
        .join(lab.withColumnRenamed("url", "dst"), "dst")
        .select(
            F.col("csrc").alias("src"), F.col("component").alias("dst")
        )
    )
    # delta endpoints map through prev labels where known, else themselves
    d = delta_edges
    mapped_delta = (
        d.join(lab.withColumnRenamed("url", "src"), "src", "left")
        .withColumnRenamed("component", "csrc")
        .join(lab.withColumnRenamed("url", "dst"), "dst", "left")
        .select(
            F.coalesce("csrc", F.col("src")).alias("src"),
            F.coalesce("component", F.col("dst")).alias("dst"),
        )
    )
    condensed = mapped_old.union(mapped_delta).distinct()
    gc = build_graph_tables(spark, condensed)
    super_comp = (
        strongly_connected_components(spark, gc, max_rounds=max_rounds)
        .components.localCheckpoint(eager=True)
    )  # (url=supernode, component)

    # expand: old vertices through their previous label; vertices first
    # seen in the delta (and surviving the drop-regex, like the build)
    # are their own supernode
    # name-based (USING) joins: super_comp's lineage CONTAINS lab (the
    # condensation was built from it), so cross-side attribute
    # references like lab.component == sc.prev resolve ambiguously —
    # renamed columns + USING keys keep each side self-contained.
    sc = super_comp.select(
        F.col("url").alias("prev"), F.col("component").alias("merged")
    )
    old_side = (
        lab.withColumnRenamed("component", "prev")
        .join(sc, "prev")
        .select("url", F.col("merged").alias("component"))
    )
    fd = regex_filter(delta_edges)
    new_side = (
        fd.select(F.col("src").alias("prev"))
        .union(fd.select(F.col("dst").alias("prev")))
        .distinct()
        .join(lab.select(F.col("url").alias("prev")), "prev", "anti")
        .join(sc, "prev")
        .select(F.col("prev").alias("url"), F.col("merged").alias("component"))
    )
    return old_side.union(new_side)


@dataclass
class CondensationLayersResult:
    layers: DataFrame  # url: string, component: string, layer: long
    depth: int  # number of layers - 1 (max layer value)
    rounds: int
    metrics: list[dict] = field(default_factory=list)


def condensation_layers(
    spark: SparkSession,
    g: GraphTables,
    edges: DataFrame,
    max_rounds: int = 200,
) -> CondensationLayersResult:
    """Topological layering of the SCC condensation DAG: layer(C) =
    length of the longest condensation path ending at C (sources are
    layer 0). The classic stratification for dependency-ordered
    processing — crawl scheduling waves, incremental recompute order,
    stage-parallel link analysis: everything in layer k can run once
    layers < k are done, and within a layer all components are
    independent (Tarjan's condensation; Kahn 1962 gives the layered
    schedule semantics — "topological generations").

    Iteration is the Bellman-Ford longest-path fixpoint with the
    repo's WORKLIST restriction (VERDICT round-2 item 1 discipline):
    each round relaxes only out-edges of components whose layer ROSE
    last round, so total work is O(cond-edges x avg-raises), not
    O(depth x cond-edges). Terminates because the condensation is
    acyclic (depth <= #components; max_rounds guards + fails loudly).

    `edges` must be the same url-space edge table `g` was built from
    (used for the condensation edge map). Output: url, component
    (min-url SCC label, identical to strongly_connected_components),
    layer (long).
    """
    comp = strongly_connected_components(spark, g).components
    comp = comp.localCheckpoint(eager=True)
    P = g.num_partitions
    cedges = (
        edges.filter(F.col("src") != F.col("dst"))
        .join(comp.withColumnRenamed("url", "src")
                  .withColumnRenamed("component", "cs"), "src")
        .join(comp.withColumnRenamed("url", "dst")
                  .withColumnRenamed("component", "ct"), "dst")
        .filter(F.col("cs") != F.col("ct"))
        .select("cs", "ct")
        .distinct()
        .repartition(P, "cs")
        .localCheckpoint(eager=True)
    )
    level = (
        comp.select(F.col("component").alias("c"))
        .distinct()
        .select("c", F.lit(0).cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    frontier = level
    metrics: list[dict] = []
    rounds = 0
    with no_aqe(spark):
        for r in range(max_rounds):
            if frontier.isEmpty():
                break
            rounds = r + 1
            t0 = time.time()
            cand = (
                cedges.join(frontier.withColumnRenamed("c", "cs"), "cs")
                .groupBy(F.col("ct").alias("c"))
                .agg((F.max("d") + F.lit(1)).alias("nd"))
            )
            merged = (
                level.join(cand, "c", "left")
                .select(
                    "c",
                    F.greatest(F.col("d"), F.coalesce(F.col("nd"), F.lit(0))).alias("d"),
                    (F.coalesce(F.col("nd"), F.lit(0)) > F.col("d")).alias("rose"),
                )
                .localCheckpoint(eager=True)
            )
            frontier = merged.filter("rose").select("c", "d").localCheckpoint(
                eager=True
            )
            level = merged.select("c", "d")
            metrics.append(
                {"r": r, "raised": frontier.count(),
                 "wall_sec": time.time() - t0}
            )
        else:
            raise ValueError(
                f"layering still relaxing after max_rounds={max_rounds}; "
                "the condensation should be acyclic — raise max_rounds or "
                "check the component labels"
            )

    out = comp.join(
        level.withColumnRenamed("c", "component").withColumnRenamed("d", "layer"),
        "component",
    ).select("url", "component", "layer")
    depth = level.agg(F.max("d")).collect()[0][0] or 0
    return CondensationLayersResult(
        layers=out, depth=int(depth), rounds=rounds, metrics=metrics
    )


def sql_condensation_layers() -> str:
    """DuckDB twin over the `edges`/`vertices` CTEs: sql_scc's
    reachability-closure components, condensation edges, then layer =
    max walk length into each component via a recursive CTE (the
    union-distinct on (c, d) pairs is cycle-free because the
    condensation is a DAG)."""
    from ..oracle.recursive_sql import sql_scc

    scc_select = sql_scc()  # a CTE list + final select: nest under WITH
    return f"""
cl_comp as (with {scc_select}),
cl_cedges as (
    select distinct c1.component as cs, c2.component as ct
    from edges e
    join cl_comp c1 on c1.url = e.src
    join cl_comp c2 on c2.url = e.dst
    where c1.component <> c2.component and e.src <> e.dst),
cl_walk as (
    with recursive w(c, d) as (
        select component, 0 from (select distinct component from cl_comp)
        union
        select ce.ct, w.d + 1 from w join cl_cedges ce on ce.cs = w.c
    )
    select c, max(d) as layer from w group by c
)
select p.url, p.component, w.layer::bigint as layer
from cl_comp p join cl_walk w on w.c = p.component"""
