"""SCAN structural graph clustering (Xu, Yuruk, Feng & Schweiger,
"SCAN: a Structural Clustering Algorithm for Networks", KDD 2007 —
public). Clusters a web graph by NEIGHBORHOOD AGREEMENT rather than
mere connectivity: two adjacent pages are structurally similar when
they share most of their link neighborhoods, clusters grow only
through similar core pages, and the pages connectivity alone would
lump in are split out as HUBS (bridging >= 2 clusters) or OUTLIERS —
exactly the link-farm / navigation-hub separation a Common-Crawl
link graph needs before per-community analytics.

Definitions (on the simplified undirected graph; N[u] = closed
neighborhood):

    sigma(u, v) = |N[u] ∩ N[v]| / sqrt(|N[u]| * |N[v]|)

For an EDGE (u, v): |N[u] ∩ N[v]| = cn(u,v) + 2 where cn is the
common-open-neighbor count — which is exactly the per-edge triangle
count, so the expensive step reuses the degree-ordered wedge cascade
(graph/triangles.py, hub-skew-bounded O(m^1.5); dense long ids when a
GraphTables is supplied). The remaining steps run on the epsilon-similar
edge subgraph (<= m rows): epsilon-neighbor counting, mu-core test,
min-label components over core-core similar edges, border attachment,
hub/outlier split.

Exactness: sigma >= eps is evaluated in PURE INTEGERS — with
eps = eps_num/eps_den,

    sigma(u,v) >= eps  <=>  (cn+2)^2 * eps_den^2 >= eps_num^2 * (d_u+1) * (d_v+1)

(valid while (cn+2)*eps_den < 2^31.5 ~ 3e9, far beyond any real
common-neighbor count; no floats anywhere, so Spark and DuckDB agree
bit-for-bit). Cluster ids are min-url labels (graph/components.py
`min_label_fixpoint` over the core-core similar edges). SCAN's
textbook border attachment is traversal-order-dependent; this engine
defines it deterministically as the MIN cluster id over adjacent
cores, and hubs as unclassified vertices whose plain neighbors span
>= 2 distinct clusters.

Scale: the wedge cascade dominates and is the measured triangle path;
everything after operates on the similar-edge subgraph and the core
set. The min-label loop runs on url strings — the repo measured the
dense-id lever at 1.08x for this non-hot-loop shape (BENCH.md,
symmetry family), so the string loop is the simpler right choice.
Reference anchor: none (the reference has no community operators);
north-rule family sibling of connected components / label propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.edges import GraphTables
from ..session import loop_shuffle_partitions, no_aqe
from .components import min_label_fixpoint
from .triangles import triangle_counts


def scan_clusters(
    spark: SparkSession,
    g: GraphTables | None = None,
    edges: DataFrame | None = None,
    eps_num: int = 3,
    eps_den: int = 5,
    mu: int = 3,
    max_iterations: int = 100,
) -> DataFrame:
    """SCAN roles + clusters; `edges` (src,dst strings) overrides `g`.

    Output: url, role ('core' | 'border' | 'hub' | 'outlier'),
    cluster (min member url of the core component; NULL for
    hub/outlier). Covers every endpoint of the simplified graph.
    Raises RuntimeError when the core components take more than
    `max_iterations` min-label rounds to settle.
    """
    if g is None and edges is None:
        raise ValueError("scan_clusters: need g or edges")
    if not (0 < eps_num <= eps_den):
        raise ValueError("scan_clusters: need 0 < eps_num <= eps_den")
    if mu < 2:
        raise ValueError("scan_clusters: mu must be >= 2")

    tri = triangle_counts(spark, g=g, edges=edges)
    cn = tri.per_edge  # a, b (a<b, canonical urls), triangles: long

    adj = (
        cn.select(F.col("a").alias("v"), F.col("b").alias("w"))
        .union(cn.select(F.col("b").alias("v"), F.col("a").alias("w")))
    ).persist()
    deg = adj.groupBy("v").agg(F.count("*").cast("long").alias("d"))

    c2 = F.col("triangles") + F.lit(2)
    sim = (
        cn.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .filter(
            c2 * c2 * F.lit(eps_den * eps_den)
            >= F.lit(eps_num * eps_num) * (F.col("da") + 1) * (F.col("db") + 1)
        )
        .select("a", "b")
    )
    simadj = (
        sim.select(F.col("a").alias("v"), F.col("b").alias("w"))
        .union(sim.select(F.col("b").alias("v"), F.col("a").alias("w")))
    ).persist()

    simdeg = simadj.groupBy("v").agg(F.count("*").alias("sd"))
    cores = (
        deg.select("v")
        .join(simdeg, "v", "left")
        .filter(F.coalesce(F.col("sd"), F.lit(0)) + 1 >= F.lit(mu))
        .select("v")
    ).persist()

    # min-label components over core-core similar edges; singleton
    # cores are their own cluster (labels start at every core)
    cc_sym = (
        simadj.join(cores.select(F.col("v")), "v", "left_semi")
        .join(cores.select(F.col("v").alias("w")), "w", "left_semi")
        .select(F.col("v").alias("src"), F.col("w").alias("dst"))
        .repartition("src")
        .persist()
    )
    # size the min-label rounds to the core adjacency (no-op at scale)
    m_cc = cc_sym.count()
    with no_aqe(spark), loop_shuffle_partitions(spark, m_cc):
        fix = min_label_fixpoint(
            cc_sym,
            cores.select(F.col("v").alias("id"), F.col("v").alias("label")),
            max_iterations,
        )
    clusters = fix.labels_or_raise("scan_clusters").select(
        F.col("id").alias("v"), F.col("label").alias("cluster")
    )

    core_rows = clusters.select(
        "v", F.lit("core").alias("role"), "cluster"
    )
    borders = (
        simadj.join(clusters.select(F.col("v").alias("w"), "cluster"), "w")
        .join(cores, "v", "left_anti")
        .groupBy("v")
        .agg(F.min("cluster").alias("cluster"))
        .select("v", F.lit("border").alias("role"), "cluster")
    )
    classified = core_rows.unionByName(borders).persist()

    rest = deg.select("v").join(classified.select("v"), "v", "left_anti")
    hub_set = (
        rest.join(adj, "v")
        .join(
            classified.select(F.col("v").alias("w"), F.col("cluster").alias("wc")),
            "w",
        )
        .groupBy("v")
        .agg(F.countDistinct("wc").alias("nc"))
        .filter(F.col("nc") >= 2)
        .select("v")
    )
    rest_rows = (
        rest.join(hub_set.withColumn("is_hub", F.lit(True)), "v", "left")
        .select(
            "v",
            F.when(F.col("is_hub"), F.lit("hub"))
            .otherwise(F.lit("outlier"))
            .alias("role"),
            F.lit(None).cast("string").alias("cluster"),
        )
    )
    out = (
        classified.unionByName(rest_rows)
        .select(F.col("v").alias("url"), "role", "cluster")
        .localCheckpoint(eager=True)
    )
    for df in (adj, simadj, cores, cc_sym, classified):
        df.unpersist()
    return out


def sql_scan_clusters(
    eps_num: int = 3, eps_den: int = 5, mu: int = 3
) -> str:
    """DuckDB twin over the shared graph CTEs (edges/vertices/sym);
    recursive min-label components with the repo's self-row trick;
    identical integer similarity gate and deterministic border/hub
    rules. CTEs referenced more than once are MATERIALIZED (DuckDB
    inlines by default, which would re-run the wedge count per use).
    """
    return f"""
und as materialized (
  select least(src, dst) as a, greatest(src, dst) as b
  from edges where src <> dst
  group by 1, 2
),
adj as materialized (
  select a as v, b as w from und union all select b, a from und
),
deg as materialized (select v, count(*)::bigint as d from adj group by v),
cn as materialized (
  select u.a, u.b, count(*)::bigint as c
  from und u
  join adj x on x.v = u.a
  join adj y on y.v = u.b and y.w = x.w
  group by u.a, u.b
),
sim as materialized (
  select u.a, u.b
  from und u
  left join cn on cn.a = u.a and cn.b = u.b
  join deg da on da.v = u.a
  join deg db on db.v = u.b
  where (coalesce(cn.c, 0) + 2) * (coalesce(cn.c, 0) + 2)
            * {eps_den * eps_den}
        >= {eps_num * eps_num} * (da.d + 1) * (db.d + 1)
),
simadj as materialized (
  select a as v, b as w from sim union all select b, a from sim
),
cores as materialized (
  select d.v
  from deg d
  left join (select v, count(*) as sd from simadj group by v) s
         on s.v = d.v
  where coalesce(s.sd, 0) + 1 >= {mu}
),
ccw as materialized (
  select s.v as src, s.w as dst, 0 as own
  from simadj s
  join cores c1 on c1.v = s.v
  join cores c2 on c2.v = s.w
  union all
  select v, v, 1 from cores
),
clusters as materialized (
  with recursive st(v, lbl, chg) as (
    select v, v, 1 from cores
    union all
    select v, lbl,
           max(case when lbl < old then 1 else 0 end) over () as chg
    from (
      select e.dst as v,
             min(s.lbl) as lbl,
             min(s.lbl) filter (where e.own = 1) as old
      from st s join ccw e on e.src = s.v
      where s.chg = 1
      group by e.dst
    )
  )
  select v, min(lbl) as cluster from st group by v
),
borders as materialized (
  select s.v, min(cl.cluster) as cluster
  from simadj s
  join clusters cl on cl.v = s.w
  where s.v not in (select v from cores)
  group by s.v
),
classified as materialized (
  select v, 'core' as role, cluster from clusters
  union all
  select v, 'border', cluster from borders
),
rest as materialized (
  select v from deg where v not in (select v from classified)
),
hubs as materialized (
  select r.v
  from rest r
  join adj a on a.v = r.v
  join classified c on c.v = a.w
  group by r.v
  having count(distinct c.cluster) >= 2
)
select v as url, role, cluster from classified
union all
select r.v, case when h.v is not null then 'hub' else 'outlier' end,
       null
from rest r left join hubs h on h.v = r.v"""
