"""Distributed k-means (Lloyd iterations) over an embedding column.

The corpus-clustering primitive for LLM data curation (topic balancing,
domain discovery, cluster-based mixture weighting). Reference analogue:
Celeborn has no ML operators — this extends the §2C similarity surface
(SURVEY.md §2C) with the one iterative algorithm the IVF index needs for
real centroid training (queries/similarity.py uses fixed every-Nth-row
centroids; `lloyd_iterations` is how those become data-driven).

Spark-first plan: lloyd_iterations hash-partitions the projected
(id, vec) relation by id ONCE and localCheckpoints it; from then on
  assign  — crossJoin(broadcast(centroids)) + min-distance window:
            the window's partitionBy(id) is satisfied by the existing
            id-partitioning, so no exchange;
  update  — join assignment (window output, also id-partitioned) back
            to the vectors — again no exchange — then posexplode ->
            groupBy(cluster, pos).avg (map-side partials): the ONLY
            per-iteration shuffle is k x dim mean rows.
So the vector table crosses the wire exactly once for the whole fit
(tests/test_kmeans.py pins the per-iteration exchange count), centroids
stay broadcast-sized (k x dim doubles), and each iteration's centroid
DF is localCheckpoint'ed so lineage (and thus re-execution of every
prior iteration) does not grow with iters — the same discipline as
operators/components.py label propagation. (At toy scale the cache
machinery costs more than it saves — ~1 s at sf0.1 — but it is the
100 TB-correct default, the same input-caching choice Spark MLlib's
KMeans makes; operators.hold releases it at the next query invocation.)

Determinism: seeds are the k lowest-id vectors (cluster id = seed's
vec_id), distances are rounded to 6 dp with cluster-id tie-break, and
centroid components are rounded to 6 dp after every update, so the whole
fit is bit-reproducible in any engine — `kmeans_oracle_sql` generates
the DuckDB mirror (same trick as embedding_near_dup_oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from celeborn_spark.operators import hold
from celeborn_spark.operators.similarity import as_double_array


def l2_dist(a: Column, b: Column) -> Column:
    """Euclidean distance, accumulated left-to-right over the array —
    the same association order DuckDB's list_distance uses, so rounded
    values agree across engines."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist): each vector's nearest centroid (distance
    rounded 6 dp, ties -> lowest cluster id). Centroids broadcast."""
    v = vectors.select(F.col(id_col), as_double_array(vec_col).alias("v"))
    scored = v.crossJoin(F.broadcast(centroids)).withColumn(
        "dist", F.round(l2_dist(F.col("v"), F.col("c")), 6)
    )
    w = W.partitionBy(id_col).orderBy("dist", "cluster")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cluster", "dist")
    )


def update_centroids(
    vectors: DataFrame,
    assignment: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster, c): element-wise mean of each cluster's vectors,
    components rounded 6 dp (cross-engine reproducibility of the next
    assignment). posexplode -> one groupBy(cluster, pos) exchange with
    map-side partials -> array rebuild."""
    dims = (
        vectors.join(assignment.select(id_col, "cluster"), id_col)
        .select("cluster", F.posexplode(as_double_array(vec_col)).alias("pos", "x"))
    )
    means = dims.groupBy("cluster", "pos").agg(F.round(F.avg("x"), 6).alias("m"))
    return means.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("c")
    )


def prepared_vectors(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Partition the slim (id, vec) projection by id ONCE and hold it
    (operators.hold): every round's window (partitionBy id) and
    assignment join reuse the partitioning, so the vectors shuffle once
    per fit. A cache, NOT localCheckpoint(): a checkpoint scans back as
    an opaque RDD with UNKNOWN partitioning and Catalyst re-exchanges
    anyway; a cached plan keeps hashpartitioning(id) (test_kmeans)."""
    return (
        vectors.select(F.col(id_col), as_double_array(vec_col).alias(vec_col))
        .repartition(vectors.sparkSession.sparkContext.defaultParallelism, id_col)
        .transform(hold)
    )


def lloyd_iterations(
    vectors: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit k-means for `iters` Lloyd rounds from deterministic seeds
    (the k lowest-id vectors; cluster id = seed id) and return the final
    assignment (id, cluster, dist)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    seeds = vectors.orderBy(id_col).limit(k)
    centroids = seeds.select(
        F.col(id_col).alias("cluster"), as_double_array(vec_col).alias("c")
    ).localCheckpoint()
    v = prepared_vectors(vectors, id_col, vec_col)
    for _ in range(iters):
        assignment = assign_clusters(v, centroids, id_col, vec_col)
        centroids = update_centroids(
            v, assignment, id_col, vec_col
        ).localCheckpoint()  # cut lineage: next round must not re-run this one
    return assign_clusters(v, centroids, id_col, vec_col)


def kmeans_oracle_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iters: int = 2,
) -> str:
    """DuckDB mirror of lloyd_iterations: the same seed/assign/update
    arithmetic as chained CTEs (unnest trick from q_label_centroids for
    the element-wise mean)."""
    unnest = (
        "unnest(list_transform(range(1, len(v.e) + 1),"
        " i -> {'pos': i - 1, 'x': v.e[i]})) AS u"
    )

    def assign(cent: str, alias: str) -> str:
        return f"""{alias} AS (
        SELECT {id_col}, cluster, dist FROM (
            SELECT v.{id_col}, {cent}.cluster,
                   round(list_distance(v.e, {cent}.c), 6) AS dist,
                   row_number() OVER (
                       PARTITION BY v.{id_col}
                       ORDER BY round(list_distance(v.e, {cent}.c), 6),
                                {cent}.cluster) AS rn
            FROM v CROSS JOIN {cent}
        ) WHERE rn = 1
    )"""

    def update(assign_alias: str, alias: str) -> str:
        return f"""{alias} AS (
        SELECT cluster, list(m ORDER BY pos) AS c FROM (
            SELECT cluster, u.pos AS pos, round(avg(u.x), 6) AS m FROM (
                SELECT a.cluster, {unnest}
                FROM {assign_alias} a JOIN v USING ({id_col})
            ) GROUP BY cluster, u.pos
        ) GROUP BY cluster
    )"""

    ctes = [
        f"v AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS e FROM {table})",
        f"""c0 AS (
        SELECT {id_col} AS cluster, e AS c FROM v
        ORDER BY {id_col} LIMIT {k}
    )""",
    ]
    cent = "c0"
    for i in range(iters):
        ctes.append(assign(cent, f"a{i}"))
        ctes.append(update(f"a{i}", f"c{i + 1}"))
        cent = f"c{i + 1}"
    ctes.append(assign(cent, "final"))
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT {id_col}, cluster, dist FROM final"
    )
