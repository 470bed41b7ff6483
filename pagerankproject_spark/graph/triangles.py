"""Per-edge triangle counting via two-phase sorted-neighbor (wedge)
joins — SURVEY.md §2b operator #26 (north_rule mandate; no reference
implementation).

Semantics (exact-match): the graph is simplified first — self-loops
dropped, edges canonicalized to (least, greatest) and deduplicated. For
each undirected edge, the number of triangles containing it; plus the
global triangle count.

Algorithm (the classic degree-ordered wedge enumeration, shuffle-bound
O(sum of C(outdeg+, 2)) which orientation bounds by O(m^1.5)):

  1. orient every edge from the endpoint with smaller (degree, url) to
     the larger — struct comparison gives the total order directly;
  2. wedges: self-join oriented edges on their source u -> (u, v, w)
     with rk(v) < rk(w) — each potential triangle generated exactly once
     from its lowest-rank vertex;
  3. close: join wedges against oriented edges on (v, w) — every match
     is one triangle;
  4. per-edge counts: explode each triangle into its 3 canonical edges,
     count, right-join back onto the edge list (zero-fill).

Above the driver-local threshold everything is DataFrame joins/aggs —
no UDF, no collect. The orientation step is exactly what makes hub
vertices (web-graph skew) survivable: a hub's edges are almost all
oriented INTO it, so it never fans out wedges.

Below the threshold (graph/local.py `runs_local`, the decision PageRank,
CC and LPA share) `triangle_counts(spark, g)` runs the same four steps
in numpy over the graph's shared driver-local copy (`_triangles_local`):
no Spark job besides building the result frame, and nothing collected
that PageRank, CC or LPA on the same graph have not already collected.
A graph whose oriented wedge count (sum of C(d+, 2)) exceeds
LOCAL_WEDGE_BUDGET still takes the cascade, whose joins use every core.
The result says which way it went (`TriangleResult.mode`) and the wedge
count that decided it (`TriangleResult.wedges`).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..ingest.edges import GraphTables
from ..session import (
    loop_shuffle_partitions,
    no_aqe,
    reset_stats_checkpoint,
)
from . import local

# the driver-local kernel enumerates at most max(m, WEDGE_CHUNK_MIN)
# wedges at once, so its memory stays O(m) on any degree distribution
WEDGE_CHUNK_MIN = 1 << 22
# above this many wedges the driver-local kernel hands over to the
# cascade: it enumerates 7-10M wedges/s on one core (measured, BENCH.md),
# so the budget caps its wall at ~30 s
WEDGES_PER_S = 7_000_000
LOCAL_WEDGE_BUDGET = 30 * WEDGES_PER_S


@dataclass
class TriangleResult:
    per_edge: DataFrame  # a: string, b: string (a<b), triangles: long
    total: int
    mode: str = "distributed"  # "local": counted on the driver
    # sum of C(d+, 2) over the oriented out-degrees: the wedges the
    # local kernel enumerates, compared with LOCAL_WEDGE_BUDGET (None
    # when the graph is above the local threshold or not a GraphTables)
    wedges: int | None = None


def triangle_counts(
    spark: SparkSession,
    g: GraphTables | None = None,
    edges: DataFrame | None = None,
    materialize: bool = True,
) -> TriangleResult:
    """`edges` (src,dst string columns) overrides `g` if given.

    `materialize=True` (default) localCheckpoints the per-edge result
    and releases every intermediate cache (long-lived sessions stay
    clean); `materialize=False` keeps the lazy plan — used by
    tools/dump_plans.py so PLANS.md shows the wedge-join cascade, and
    by callers that only want the plan. The total count still runs.

    With a GraphTables input the wedge enumeration runs on the dense
    LONG ids (the dominant shuffles move 8-byte keys, not urls); the
    translation back to url space happens once, on the per-edge output
    (two joins against the small vertices dim). Any total order is a
    valid orientation, so id-order and url-order tie-breaks give
    identical counts; the output is re-canonicalized by url.

    Below the driver-local threshold a materialized GraphTables call is
    counted on the driver (`_triangles_local`, `mode="local"`) unless
    its wedge count exceeds LOCAL_WEDGE_BUDGET; the `edges=` path and
    `materialize=False` always build the cascade."""
    wedges = None
    if edges is None and materialize and local.runs_local(spark, g):
        oriented = _orient(local.local_graph(g), g.n)
        wedges = int(oriented[-1].sum())
        if wedges <= LOCAL_WEDGE_BUDGET:
            return _triangles_local(spark, g, oriented, wedges)
    if edges is None:
        und_ids = (
            g.weighted_edges.select("src_id", "dst_id")
            .filter(F.col("src_id") != F.col("dst_id"))
            .select(
                F.least("src_id", "dst_id").alias("a"),
                F.greatest("src_id", "dst_id").alias("b"),
            )
            .distinct()
        ).persist()
        per_edge_ids, total = _count(
            und_ids, materialize, pack_max_id=g.n
        )
        if materialize:
            und_ids.unpersist()
        v = g.vertices
        per_edge = (
            per_edge_ids.join(
                v.select(F.col("id").alias("a"), F.col("url").alias("url_a")), "a"
            )
            .join(v.select(F.col("id").alias("b"), F.col("url").alias("url_b")), "b")
            .select(
                F.least("url_a", "url_b").alias("a"),
                F.greatest("url_a", "url_b").alias("b"),
                "triangles",
            )
        )
        return TriangleResult(per_edge=per_edge, total=total, wedges=wedges)

    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .persist()
    )
    per_edge, total = _count(und, materialize)
    if materialize:
        und.unpersist()
    return TriangleResult(per_edge=per_edge, total=total)


def _orient(lg: local.LocalGraph, n: int) -> tuple[np.ndarray, ...]:
    """Simplify (self-loops dropped, (min id, max id) deduped), orient
    each edge from the endpoint with the smaller (degree, id) to the
    larger, and sort the oriented edges by (u, v) in that order.
    Returns the canonical endpoints (a, b), the sort order, the sorted
    oriented keys u*n+v and v's, and the wedges each sorted edge opens
    (the later edges of its u-block; they sum to sum of C(d+, 2))."""
    loop = lg.src == lg.dst
    lo = np.minimum(lg.src, lg.dst)[~loop]
    hi = np.maximum(lg.src, lg.dst)[~loop]
    und = np.unique(lo * n + hi)
    a, b = und // n, und % n
    m = len(und)
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    # position of each id in the (degree, id) order
    order = np.empty(n, dtype=np.int64)
    order[np.lexsort((np.arange(n), deg))] = np.arange(n, dtype=np.int64)
    ra, rb = order[a], order[b]
    ru, rv = np.minimum(ra, rb), np.maximum(ra, rb)
    okey = ru * n + rv
    by_key = np.argsort(okey)
    okey, ru, rv = okey[by_key], ru[by_key], rv[by_key]
    block_end = np.cumsum(np.bincount(ru, minlength=n))
    later = block_end[ru] - np.arange(m) - 1
    return a, b, by_key, okey, rv, later


def _triangles_local(
    spark: SparkSession, g: GraphTables, oriented: tuple, wedges: int
) -> TriangleResult:
    """The wedge enumeration in numpy over `local.local_graph(g)`,
    oriented by `_orient`. Each edge pairs with every later edge of its
    u-block — one wedge (u, v1, v2) per pair, each triangle reached once
    from its lowest vertex — and the wedge closes when (v1, v2) is
    itself an oriented edge, found by binary search in the sorted keys.
    Wedges are enumerated in chunks of consecutive sorted edges holding
    at most max(m, WEDGE_CHUNK_MIN) wedges (one edge opens fewer than
    m). Every hit adds one to each of its three edges."""
    lg = local.local_graph(g)
    n = g.n
    a, b, by_key, okey, rv, later = oriented
    m = len(okey)
    counts = np.zeros(m, dtype=np.int64)
    total = 0
    for first, last in _wedge_chunks(later, max(m, WEDGE_CHUNK_MIN)):
        k = later[first:last]
        p1 = np.repeat(np.arange(first, last), k)
        p2 = p1 + 1 + np.arange(len(p1)) - np.repeat(np.cumsum(k) - k, k)
        want = rv[p1] * n + rv[p2]
        at = np.minimum(np.searchsorted(okey, want), m - 1)
        hit = okey[at] == want
        counts += np.bincount(
            np.concatenate((p1[hit], p2[hit], at[hit])), minlength=m
        )
        total += int(np.count_nonzero(hit))
    # back to the canonical (a < b) edges, then to urls in url order
    ea, eb = a[by_key], b[by_key]
    swap = lg.rank[ea] > lg.rank[eb]
    url = pa.array(lg.url, type=pa.string())
    table = pa.table(
        {
            "a": url.take(np.where(swap, eb, ea)),
            "b": url.take(np.where(swap, ea, eb)),
            "triangles": counts,
        }
    )
    per_edge = spark.createDataFrame(table, "a string, b string, triangles long")
    return TriangleResult(
        per_edge=per_edge, total=total, mode="local", wedges=wedges
    )


def _wedge_chunks(later: np.ndarray, bound: int):
    """(first, last) runs of consecutive edges that together open at
    most `bound` wedges — or one edge, when it alone opens more."""
    done = np.cumsum(later)
    first = 0
    while first < len(later):
        before = done[first - 1] if first else 0
        last = max(first + 1, int(np.searchsorted(done, before + bound, "right")))
        yield first, last
        first = last


def clustering_coefficients(
    spark: SparkSession, g: GraphTables
) -> DataFrame:
    """Per-vertex local clustering coefficient over the simple
    undirected graph (Watts-Strogatz 1998):

        lcc(v) = 2 * tri(v) / (deg(v) * (deg(v) - 1))

    Composed from the per-edge triangle counts: a triangle at v covers
    exactly two edges incident to v, so tri(v) = sum of t(e) over v's
    incident edges / 2, and lcc(v) = sum_incident(t) / (deg*(deg-1)).
    One explode of the (already materialized) per-edge table + one
    combinable sum/count aggregation — no new wedge work, so the scale
    profile is the per-edge counter's. Vertices of degree < 2 (and
    vertices isolated after simplification) get lcc = 0.0.

    Output: url, degree (simple undirected), triangles (long), lcc
    (double in [0, 1]).
    """
    per_edge = triangle_counts(spark, g).per_edge
    incident = per_edge.select(
        F.col("a").alias("url"), "triangles"
    ).union(per_edge.select(F.col("b").alias("url"), "triangles"))
    stats = incident.groupBy("url").agg(
        F.count("*").alias("degree"),
        (F.sum("triangles") / 2).cast("long").alias("triangles"),
    )
    return (
        g.vertices.select("url")
        .join(stats, "url", "left")
        .select(
            "url",
            F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.col("triangles")
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(0.0)
            .alias("lcc"),
        )
    )


@dataclass
class KTrussResult:
    edges: DataFrame  # a: string, b: string (a<b), support: long
    rounds: int
    converged: bool


def ktruss(
    spark: SparkSession,
    g: GraphTables,
    k: int,
    max_rounds: int = 100,
    recount_floor: int = 5_000_000,
) -> KTrussResult:
    """Maximal k-truss (Cohen 2008): the largest subgraph in which every
    edge participates in >= k-2 triangles WITHIN the subgraph — the
    edge-level analog of k-core, the standard cohesive-community
    extractor on web/social graphs (k=3 is "every edge closes a
    triangle").

    Peel to fixpoint with DELTA-MAINTAINED supports (round 4; the
    round-3 form re-ran the full wedge cascade on the shrinking edge
    set every round — at 100x scale the peel depth multiplies the most
    expensive pass in the engine). Triangles are enumerated ONCE (the
    degree-ordered wedge join — orientation keeps hubs from fanning
    out wedges) and kept EXPLODED as a 3-rows-per-triangle edge-keyed
    table (round 5: this folds round-4's three per-round `_touch`
    semi-joins + union into ONE semi-join, recovering the small-graph
    per-round constant the round-4 verdict flagged); per round, edges
    below k-2 drop, the triangles they touch die (each exactly once,
    however many of its edges dropped together), and the dead
    triangles' surviving edges are decremented. Per-round cost is one
    pass over the live triangle-edge/edge tables (the filter/anti-join
    rewrite + checkpoint) plus O(incidence of the dropped edges) join
    work — far cheaper than the old full wedge re-cascade, whose
    wedge join it never re-runs. The iterates are identical to the
    recount formulation (support on the residual subgraph =
    live-triangle count), so the fixpoint, the round count, and the
    DuckDB peel oracle are all unchanged. Output edges are relabeled
    (a, b = min/max url) with their final in-truss support.

    Form pick (round 5, the CC probe-floor pattern,
    components.py:212): below `recount_floor` triangle-edge rows the
    whole frozen triangle table fits a single task wave and the delta
    form's three materializations per round (dead keys, marked
    rewrite, decremented supports) dominate the wall — so small
    graphs instead RECOUNT supports over the frozen table each round
    (one semi-join + one triangle-key window + one aggregate, ONE
    checkpoint per round, triangle table never rewritten; the wedge
    cascade is still never re-run). Both forms produce identical
    iterates — support on the residual subgraph — so the pick is
    invisible to the fixpoint, the round count, and the oracle.
    """
    P = g.num_partitions
    und = (
        g.weighted_edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select(
            F.least("src_id", "dst_id").alias("a"),
            F.greatest("src_id", "dst_id").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_und = und.count()
    # persist_triangles=False: the initial support pass STREAMS the
    # cascade into its aggregate; if (and only if) the peel actually
    # drops edges, the cascade is recomputed once to freeze the
    # exploded triangle table. Two cascades worst case, zero cache
    # churn on the (common) converge-immediately path, and the frozen
    # table is a checkpoint, not an old-gen resident.
    oriented, triangles = _wedge_triangles(
        und, persist_triangles=False, pack_max_id=g.n
    )

    # three rows per live triangle — (triangle key, member edge); the
    # exploded form makes every per-round touch/decrement/rewrite a
    # single pass instead of three per-member-edge semi-joins
    def _explode_edges(t: DataFrame) -> DataFrame:
        return t.select(
            "u", "v1", "v2",
            F.explode(
                F.array(
                    F.struct(
                        F.least("u", "v1").alias("a"),
                        F.greatest("u", "v1").alias("b"),
                    ),
                    F.struct(
                        F.least("u", "v2").alias("a"),
                        F.greatest("u", "v2").alias("b"),
                    ),
                    F.struct(
                        F.least("v1", "v2").alias("a"),
                        F.greatest("v1", "v2").alias("b"),
                    ),
                )
            ).alias("e"),
        ).select("u", "v1", "v2", "e.a", "e.b")

    # initial supports stream straight out of the (persisted) triangle
    # enumeration — the exploded per-round triangle table is NOT built
    # yet: when no edge is below k-2 (common for small k on web
    # graphs) the peel exits after one support pass and the 3x
    # materialization would have been pure waste (round 5; this was
    # the whole sf0.1 ktruss regression — rounds=1 there)
    sup0 = _explode_edges(triangles).groupBy("a", "b").agg(
        F.count("*").cast("long").alias("triangles")
    )
    alive = (
        und.join(sup0, ["a", "b"], "left")
        .select(
            "a", "b",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
                "triangles"
            ),
        )
        .repartition(P, "a", "b")
        .transform(reset_stats_checkpoint)
    )
    use_recount = False
    tri_edges: DataFrame | None = None
    rounds, converged = 1, False
    with no_aqe(spark), loop_shuffle_partitions(spark, 3 * n_und):
        while rounds <= max_rounds:
            dropped = alive.filter(F.col("triangles") < k - 2).select("a", "b")
            n_drop = dropped.count()
            if n_drop == 0:
                converged = True
                break
            if tri_edges is None:
                # first real peel round: freeze the exploded table
                # (one cascade recomputation, one checkpoint), and
                # pick the per-round form off the 1-row aggregate of
                # the checkpointed supports (no extra triangle scan)
                tri_edges = (
                    _explode_edges(triangles)
                    .repartition(P)
                    .transform(reset_stats_checkpoint)
                )
                n_tri_rows = (
                    alive.agg(F.sum("triangles")).collect()[0][0] or 0
                )
                use_recount = n_tri_rows < recount_floor
            if use_recount:
                live = alive.filter(F.col("triangles") >= k - 2).select("a", "b")
                w_tri = Window.partitionBy("u", "v1", "v2")
                sup = (
                    tri_edges.join(
                        live.withColumn("alv", F.lit(1)), ["a", "b"], "left"
                    )
                    .withColumn("lc", F.count("alv").over(w_tri))
                    .filter(F.col("lc") == 3)
                    .groupBy("a", "b")
                    .agg(F.count("*").cast("long").alias("tri_new"))
                )
                alive = (
                    live.join(sup, ["a", "b"], "left")
                    .select(
                        "a", "b",
                        F.coalesce(F.col("tri_new"), F.lit(0)).cast("long")
                        .alias("triangles"),
                    )
                    .transform(reset_stats_checkpoint)
                )
                rounds += 1
                continue
            alive = alive.filter(F.col("triangles") >= k - 2)
            # triangles touching a dropped edge die — each once, even
            # when several of its edges dropped this round (one
            # semi-join over the exploded table, then distinct on the
            # triangle key)
            dead = (
                tri_edges.join(dropped, ["a", "b"], "left_semi")
                .select("u", "v1", "v2")
                .distinct()
                .localCheckpoint(eager=True)
            )
            # one pass marks dead membership AND materializes the
            # surviving table — the dec aggregate and next round's
            # semi-join both read the checkpoint, so the join is not
            # recomputed
            marked = tri_edges.join(
                dead.withColumn("dead", F.lit(1)), ["u", "v1", "v2"], "left"
            ).transform(reset_stats_checkpoint)
            dec = (
                marked.filter(F.col("dead") == 1)
                .groupBy("a", "b")
                .agg(F.count("*").cast("long").alias("dec"))
            )
            alive = (
                alive.join(dec, ["a", "b"], "left")
                .select(
                    "a", "b",
                    (
                        F.col("triangles") - F.coalesce(F.col("dec"), F.lit(0))
                    ).cast("long").alias("triangles"),
                )
                .transform(reset_stats_checkpoint)
            )
            tri_edges = marked.filter(F.col("dead").isNull()).drop("dead")
            rounds += 1

    oriented.unpersist()
    v = g.vertices
    out = (
        alive.join(v.select(F.col("id").alias("a"), F.col("url").alias("url_a")), "a")
        .join(v.select(F.col("id").alias("b"), F.col("url").alias("url_b")), "b")
        .select(
            F.least("url_a", "url_b").alias("a"),
            F.greatest("url_a", "url_b").alias("b"),
            F.col("triangles").alias("support"),
        )
    )
    return KTrussResult(edges=out, rounds=rounds, converged=converged)


def _wedge_triangles(
    und: DataFrame,
    persist_triangles: bool = True,
    pack_max_id: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered wedge enumeration over a canonical undirected
    edge list (a < b, deduped). Key type agnostic (long ids or urls).
    Returns (oriented, triangles) — each triangle is one (u, v1, v2)
    row; `oriented` is always persisted (it feeds three plan branches),
    `triangles` only when the caller will consume it more than once
    (`persist_triangles`): it is the largest intermediate of the whole
    cascade (wedge fan-out x closing matches), and caching it for a
    single pass just churns the old generation. The caller unpersists
    whatever was persisted when done.

    The closing join is SHUFFLE_HASH, not the default sort-merge: the
    probe side (wedges) outnumbers the build side (closing = the m
    oriented edges) by the wedge fan-out on every graph, and SMJ's
    sort of the wedge stream dominated the whole cascade in GC
    (profiled at local[8]: 40 of 107 task-seconds). The wedge stream
    shuffles exactly once, unsorted; per-partition build memory is
    m/P rows, flat at any scale. (A broadcast-closing variant was
    measured and REJECTED: at 3M edges it removed the 524 MB wedge
    exchange but the serial driver-side relation build cost more wall
    than the exchange at 8 cores — a pure Amdahl loss; AQE already
    broadcast-converts genuinely tiny closing sides at runtime.)

    `pack_max_id`: when the keys are dense long ids with a known
    exclusive upper bound below 2^31 (every GraphTables graph until
    ~2 billion vertices), the (v1, v2) wedge join key is packed into
    ONE long (v1<<32 | v2). The dominant shuffle then moves 2 longs
    per wedge instead of 3 and the join probes Spark's long-keyed
    hash relation instead of a 2-field row comparator — measurably
    less bandwidth and garbage where the cascade is bottlenecked.
    None (or a bound over 2^31, or string keys) keeps the 2-column
    key — the >2-billion-vertex tier."""
    deg = (
        und.select(F.col("a").alias("x"))
        .union(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("deg"))
    )

    # rank = struct(deg, url): total order; orient small -> large
    ranked = (
        und.join(deg.withColumnRenamed("x", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("x", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            "a",
            "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("u")).alias("ra"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("u")).alias("rb"),
        )
    )
    oriented = ranked.select(
        F.when(F.col("ra") < F.col("rb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("ra") < F.col("rb"), F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(F.col("ra") < F.col("rb"), F.col("rb")).otherwise(F.col("ra")).alias("rv"),
    ).persist()

    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("rv").alias("r1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("rv").alias("r2"))
    wedges = e1.join(e2, "u").filter(F.col("r1") < F.col("r2"))
    if pack_max_id is not None and pack_max_id < 2**31:
        wedges = wedges.select(
            "u", (F.shiftleft("v1", 32) + F.col("v2")).alias("vk")
        )
        closing = oriented.select(
            (F.shiftleft("u", 32) + F.col("v")).alias("vk")
        )
        triangles = wedges.join(closing.hint("SHUFFLE_HASH"), "vk").select(
            "u",
            F.shiftright("vk", 32).alias("v1"),
            (F.col("vk") - F.shiftleft(F.shiftright("vk", 32), 32)).alias("v2"),
        )
    else:
        wedges = wedges.select("u", "v1", "v2")
        closing = oriented.select(
            F.col("u").alias("v1"), F.col("v").alias("v2")
        )
        triangles = wedges.join(closing.hint("SHUFFLE_HASH"), ["v1", "v2"])
    if persist_triangles:
        triangles = triangles.persist()
    return oriented, triangles


def _count(
    und: DataFrame,
    materialize: bool = True,
    pack_max_id: int | None = None,
) -> tuple[DataFrame, int]:
    """Per-edge triangle counts over a canonical undirected edge list
    (a < b, deduped) via _wedge_triangles; `pack_max_id` (when the
    caller knows the dense-id bound) packs the wedge join key.

    The materialized path runs as ONE Spark job: the triangle stream is
    never cached or counted separately — it flows straight through the
    explode + per-edge aggregation, and the global total rides an
    Observation on the per-edge localCheckpoint as sum(triangles) / 3
    (every triangle lands on exactly 3 canonical edges, and the
    zero-filled non-triangle edges contribute 0). Measured on the
    bench_scaling synthetic (3M edges / mean degree 60): dropping the
    triangle cache + extra count action removes the dominant GC churn
    and one full wedge pass."""
    oriented, triangles = _wedge_triangles(
        und, persist_triangles=not materialize, pack_max_id=pack_max_id
    )

    total: int | None = None if materialize else triangles.count()

    tri_edges = triangles.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v1").alias("a"), F.greatest("u", "v1").alias("b")
                ),
                F.struct(
                    F.least("u", "v2").alias("a"), F.greatest("u", "v2").alias("b")
                ),
                F.struct(
                    F.least("v1", "v2").alias("a"), F.greatest("v1", "v2").alias("b")
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    counts = tri_edges.groupBy("a", "b").agg(F.count("*").alias("triangles"))
    per_edge = und.join(counts, ["a", "b"], "left").select(
        "a", "b", F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles")
    )
    # materialize the result, then release every intermediate cache —
    # repeated triangle_counts calls in a long-lived session must not
    # accumulate blocks (round-1 advice). localCheckpoint also cuts the
    # 5-join lineage, so the caller's downstream plans stay flat.
    if materialize:
        # reset_stats_checkpoint, not a plain localCheckpoint: without
        # the cached triangle table the checkpointed plan is the full
        # 5-join cascade, whose multiplied sizeInBytes estimate would
        # compound geometrically across ktruss's peel rounds (the
        # session.py BigInteger stats blow-up — observed as a wedged
        # driver spending minutes in LogicalPlanStats.stats).
        obs = Observation()
        per_edge = reset_stats_checkpoint(
            per_edge.observe(obs, F.sum("triangles").cast("long").alias("t3"))
        )
        total = int(obs.get["t3"] or 0) // 3
        oriented.unpersist()
    return per_edge, int(total)


@dataclass
class TrussnessResult:
    edges: DataFrame  # a: string, b: string (a<b by url), trussness: long
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def trussness(
    spark: SparkSession,
    g: GraphTables,
    max_iterations: int = 30,
) -> TrussnessResult:
    """Full truss decomposition: every edge's truss number in ONE
    converging refinement, where ktruss(k) answers only membership for
    a single k — the edge-level analog of coreness (kcore.py::coreness).

    Algorithm: the triangle h-index fixpoint of Sariyuce, Seshadhri &
    Pinar, "Local Algorithms for Hierarchical Dense Subgraph Discovery"
    (PVLDB 12(1), 2018 — public; truss = their (2,3)-nucleus):
        rho_0(e)    = support(e)   (triangles containing e)
        rho_{t+1}(e) = H({ min(rho_t(f), rho_t(g)) :
                           (e, f, g) a triangle })
    with H the classic h-index. The iterates are non-increasing and
    converge exactly to trussness(e) - 2; edges in no triangle stay at
    0 (trussness 2 — every edge is a 2-truss by convention).

    Scale shape: triangles are enumerated ONCE (the degree-ordered
    wedge join — orientation keeps web-graph hubs from fanning out
    wedges), then frozen into an incidence table of 3 rows per triangle
    keyed by canonical edge; per round the state is one long per edge
    and the cost is two hash joins on the incidence table + one
    per-edge rank window + an integer aggregate. The changed-edge count
    rides the localCheckpoint Observation (one Spark job per round).
    Once the changed set falls below a quarter of the edges, rounds are
    WORKLIST-RESTRICTED (the repo's BFS/SSSP/coloring frontier idea at
    edge granularity): h is recomputed only for edges sharing a
    triangle with a changed edge, which reproduces the synchronous
    states bit-for-bit (rho is non-increasing, and h(e) depends only on
    the other two edges' rho over e's triangles — unchanged
    neighborhoods keep their h), so per-round work decays with the
    cascade instead of staying O(incidence).
    A fixed `max_iterations` replays exactly in the DuckDB oracle
    (oracle/recursive_sql.py::sql_trussness) since post-fixpoint rounds
    are no-ops. H-index ties need no tie-break: hindex_expr's
    descending fold is invariant to the order among equal message
    values.

    Output canonicalizes in URL space: a = least(url), b = greatest —
    id-space and url-space orientations of an undirected edge coincide.
    """
    from pyspark.sql import Window

    P = g.num_partitions
    und = (
        g.weighted_edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select(
            F.least("src_id", "dst_id").alias("a"),
            F.greatest("src_id", "dst_id").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = und.count()
    # incidence: one row per (triangle, member edge) with the OTHER two
    # edges' canonical keys — built once from ONE wedge pass, reused
    # every round. Support (= rho_0) is the per-edge incidence count.
    oriented, triangles = _wedge_triangles(und, pack_max_id=g.n)

    def _rows(e: tuple[str, str], f: tuple[str, str], h: tuple[str, str]):
        return triangles.select(
            F.least(*e).alias("ea"), F.greatest(*e).alias("eb"),
            F.least(*f).alias("fa"), F.greatest(*f).alias("fb"),
            F.least(*h).alias("ha"), F.greatest(*h).alias("hb"),
        )

    uv1, uv2, v12 = ("u", "v1"), ("u", "v2"), ("v1", "v2")
    inc = (
        _rows(uv1, uv2, v12)
        .unionByName(_rows(uv2, uv1, v12))
        .unionByName(_rows(v12, uv1, uv2))
        .repartition(P, "ea", "eb")
        .transform(reset_stats_checkpoint)
    )
    oriented.unpersist()
    triangles.unpersist()

    support = inc.groupBy(
        F.col("ea").alias("a"), F.col("eb").alias("b")
    ).agg(F.count("*").cast("long").alias("c"))
    rho = (
        und.join(support, ["a", "b"], "left")
        .select("a", "b", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"))
        .repartition(P, "a", "b")
        .transform(reset_stats_checkpoint)
    )

    rankw = Window.partitionBy("ea", "eb").orderBy(F.desc("m"))
    metrics: list[dict] = []
    converged = False
    it = -1
    chgdf = None  # edges whose rho changed last round (None = round 0)
    last_changed = n_edges
    with no_aqe(spark):
        for it in range(max_iterations):
            t0 = time.time()
            # engage the worklist only once the changed set is small
            # enough that candidate restriction saves more than the two
            # extra inc scans it costs (early rounds change nearly
            # everything, so restriction is pure overhead there)
            if chgdf is not None and last_changed * 4 > n_edges:
                chgdf = None
            # Worklist restriction (the repo's BFS/SSSP/coloring
            # frontier idea at edge granularity): h(e) depends only on
            # the OTHER two edges' rho values over e's triangles, and
            # rho is non-increasing, so h(e) can change only when some
            # incident edge changed last round. Recomputing h for
            # exactly those candidates reproduces the synchronous
            # fixpoint states bit-for-bit (unchanged neighborhoods =>
            # unchanged message multiset => unchanged h), so the
            # fixed-round oracle replay is unaffected; per-round work
            # decays with the worklist instead of staying O(inc).
            if chgdf is None:
                inc_active = inc
            else:
                cand = (
                    inc.join(
                        chgdf.select(
                            F.col("a").alias("fa"), F.col("b").alias("fb")
                        ),
                        ["fa", "fb"],
                    )
                    .select("ea", "eb")
                    .unionByName(
                        inc.join(
                            chgdf.select(
                                F.col("a").alias("ha"), F.col("b").alias("hb")
                            ),
                            ["ha", "hb"],
                        ).select("ea", "eb")
                    )
                    .distinct()
                )
                inc_active = inc.join(cand, ["ea", "eb"])
            h = (
                inc_active.join(
                    rho.select(
                        F.col("a").alias("fa"), F.col("b").alias("fb"),
                        F.col("c").alias("cf"),
                    ),
                    ["fa", "fb"],
                )
                .join(
                    rho.select(
                        F.col("a").alias("ha"), F.col("b").alias("hb"),
                        F.col("c").alias("ch"),
                    ),
                    ["ha", "hb"],
                )
                .select("ea", "eb", F.least("cf", "ch").alias("m"))
                .withColumn("rn", F.row_number().over(rankw).cast("long"))
                .groupBy("ea", "eb")
                .agg(F.max(F.least(F.col("rn"), F.col("m"))).alias("h"))
            )
            obs = Observation()
            # non-candidate edges are absent from h and must CARRY c
            # (coalesce(h, c)); no-triangle edges stay at their 0
            # support the same way.
            staged = (
                rho.join(
                    h.select(
                        F.col("ea").alias("a"), F.col("eb").alias("b"), "h"
                    ),
                    ["a", "b"],
                    "left",
                )
                .select(
                    "a", "b",
                    F.coalesce(F.col("h"), F.col("c")).cast("long").alias("c"),
                    (F.coalesce(F.col("h"), F.col("c")) != F.col("c"))
                    .cast("long").alias("chg"),
                )
                .observe(obs, F.sum("chg").alias("n"))
                .repartition(P, "a", "b")
            )
            # rho feeds THREE joins per round (two message sides + the
            # carry-forward), so a plain localCheckpoint's carried
            # sizeInBytes estimate TRIPLES in bit length every round —
            # the BigInteger stats blow-up session.py documents for
            # self-composition loops. Reset to the default estimate.
            ck = reset_stats_checkpoint(staged)
            rho = ck.select("a", "b", "c")
            chgdf = ck.filter(F.col("chg") == 1).select("a", "b")
            changed = int(obs.get["n"] or 0)
            last_changed = changed
            metrics.append(
                {"i": it, "changed": changed, "wall_sec": time.time() - t0}
            )
            if changed == 0:
                converged = True
                break

    v = g.vertices
    out = (
        rho.join(v.select(F.col("id").alias("a"), F.col("url").alias("url_a")), "a")
        .join(v.select(F.col("id").alias("b"), F.col("url").alias("url_b")), "b")
        .select(
            F.least("url_a", "url_b").alias("a"),
            F.greatest("url_a", "url_b").alias("b"),
            (F.col("c") + F.lit(2)).cast("long").alias("trussness"),
        )
    )
    return TrussnessResult(
        edges=out, iterations=it + 1, converged=converged, metrics=metrics
    )


def triangle_count_sampled(
    spark: SparkSession, edges: DataFrame, q: int = 4
) -> DataFrame:
    """DOULION sampled triangle counting (Tsourakakis, Kang, Miller &
    Faloutsos, KDD 2009 — public): keep each edge of the simple
    undirected graph with probability p = 1/q, count triangles EXACTLY
    on the sparsified graph, scale by 1/p^3 = q^3. Unbiased, and the
    estimate concentrates once the graph carries enough triangles —
    the 100-TB-regime path beside the exact wedge join: the sparsified
    graph is q x smaller in edges and ~q^3 x cheaper in wedge fan-out,
    and the sampling predicate is a map-side filter pushed to the scan.

    Sampling is DETERMINIZED by the portable 60-bit md5 hash of the
    canonical edge key (hash-based edge sampling, same determinization
    as text/pipeline.py::sample_hash) so the run replays bit-exactly in
    the DuckDB oracle and across retries/partitionings — the "random"
    bits come from md5, fixed by the edge identity. All outputs are
    exact integers (the estimate is an integer multiply, no floats).

    Output: one row — n_edges (long, simple undirected edges),
    n_sampled (long), n_triangles_sampled (long), estimate (long,
    = n_triangles_sampled * q^3).
    """
    from ..text.analysis import hash60_expr

    if q < 1:
        raise ValueError("triangle_count_sampled: q must be >= 1")
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .persist()
    )
    n_edges = und.count()
    sampled = und.filter(
        F.pmod(hash60_expr(F.concat_ws("|", F.col("a"), F.col("b"))), F.lit(q))
        == 0
    ).persist()
    n_sampled = sampled.count()
    # single consumer (the count) — never cache the triangle stream
    oriented, triangles = _wedge_triangles(sampled, persist_triangles=False)
    n_tri = triangles.count()
    oriented.unpersist()
    sampled.unpersist()
    und.unpersist()
    return spark.createDataFrame(
        [(n_edges, n_sampled, n_tri, n_tri * q**3)],
        "n_edges long, n_sampled long, n_triangles_sampled long, estimate long",
    )


def sql_triangle_count_sampled(q: int = 4) -> str:
    """DuckDB twin of triangle_count_sampled over the shared `edges`
    CTE: same canonical edge set, same portable-hash predicate, same
    x<y<z triangle join, same integer scale-up."""
    return f"""
    dund as (select distinct least(src, dst) as a, greatest(src, dst) as b
             from edges where src <> dst),
    dsmp as (select a, b from dund
             where ('0x' || substr(md5(a || '|' || b), 1, 15))::bigint
                   % {q} = 0),
    dtri as (
      select count(*)::bigint as t
      from dsmp e1
      join dsmp e2 on e2.a = e1.a and e2.b > e1.b
      join dsmp e3 on e3.a = e1.b and e3.b = e2.b
    )
    select (select count(*) from dund)::bigint as n_edges,
           (select count(*) from dsmp)::bigint as n_sampled,
           t as n_triangles_sampled,
           (t * {q ** 3})::bigint as estimate
    from dtri"""
