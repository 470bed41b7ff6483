"""Per-group embedding centroids — mean vector per label/domain/lang
(class prototypes for nearest-centroid classification, IVF coarse
quantizers, per-source drift monitoring of a training corpus).

Plan: posexplode the vector column -> (group, pos, value) -> one
partial-aggregatable AVG keyed by (group, pos) -> reassemble the array
with an ORDER-PINNED collect (array_agg sorted by pos via sort_array
over (pos, avg) structs — collect_list order is otherwise undefined
across partitions). Dimensions are the fan-out factor: a 768-dim
corpus multiplies rows 768x into the shuffle, but each row is 12
bytes and the aggregate collapses them map-side; for very wide
vectors switch the same computation to F.aggregate over the array
(zip-sum) per partition — the posexplode form is chosen here because
it stays fully relational and oracle-checkable.

Values are rounded to 6dp AFTER the mean (both engines sum float32
inputs as float64 in AVG, same result at 6dp for corpus-scale counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def embedding_centroids(
    vectors: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Returns (group_col, n_vectors, centroid: array<double> 6dp)."""
    exploded = vectors.select(
        group_col, F.posexplode(vec_col).alias("pos", "x")
    )
    dims = exploded.groupBy(group_col, "pos").agg(
        F.avg(F.col("x").cast("double")).alias("m"),
        F.count("*").cast("long").alias("c"),
    )
    return (
        dims.groupBy(group_col)
        .agg(
            F.max("c").alias("n_vectors"),
            F.sort_array(
                F.collect_list(F.struct(F.col("pos"), F.round("m", 6).alias("m")))
            ).alias("pairs"),
        )
        .select(
            group_col,
            "n_vectors",
            F.transform(F.col("pairs"), lambda p: p.m).alias("centroid"),
        )
    )


def embedding_centroids_long(
    vectors: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Long-format twin (group, pos, m, c) — the contract surface (the
    driver's value compare stringifies rows, and array columns don't
    stringify identically across engines)."""
    exploded = vectors.select(
        group_col, F.posexplode(vec_col).alias("pos", "x")
    )
    return exploded.groupBy(group_col, "pos").agg(
        F.round(F.avg(F.col("x").cast("double")), 6).alias("m"),
        F.count("*").cast("long").alias("c"),
    )


def sql_embedding_centroids_long(
    group_col: str = "label", table: str = "embeddings"
) -> str:
    # no WITH ORDINALITY in this DuckDB: index positions via
    # range(len(v)) and 1-based list subscripts.
    return f"""
    select {group_col}, i::int as pos,
           round(avg(embedding[i + 1]::double), 6) as m,
           count(*)::bigint as c
    from {table}, unnest(range(len(embedding))) as t(i)
    group by 1, 2
    """
