"""Near-dup clustering: candidate pairs -> connected components ->
one survivor per cluster. The step between pair generation
(jaccard/minhash/simhash/embedding) and corpus filtering: transitive
duplicates (A~B, B~C) must collapse into ONE cluster even when (A,C)
was never emitted as a pair.

Components come from graph/components.py `min_label_fixpoint` run
directly on the symmetrized long doc ids (no url detour). Survivor =
min doc_id per cluster (same keep-rule as dedup_exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.components import min_label_fixpoint
from ..session import no_aqe


def dedup_clusters(
    spark: SparkSession,
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 100,
) -> DataFrame:
    """(a, b) near-dup pairs -> (doc_id, cluster_id, is_survivor).

    cluster_id = min doc_id of the connected component; is_survivor
    marks that minimum. Docs never appearing in a pair are their own
    singleton cluster by definition and are NOT emitted (join the
    output back onto the corpus with a coalesce to keep singletons).
    Raises RuntimeError when a chain of pairs is longer than
    `max_iterations` rounds can settle.
    """
    P = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(P, "src")
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    with no_aqe(spark):
        fix = min_label_fixpoint(sym, labels, max_iterations, num_partitions=P)
    sym.unpersist()
    return fix.labels_or_raise("dedup_clusters").select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("is_survivor"),
    )
