"""Distributed k-means over embedding columns — the iterative exterior
loop for real IVF codebooks (similarity.label_centroids uses given
labels; this learns them).

Same L3 execution shape as the scalable dorling (SURVEY.md §4.3.2):
driver-side loop over DataFrame steps, one shuffle per iteration
(assign = broadcast codebook + argmin; update = posexplode + groupBy),
``localCheckpoint`` each iteration so the plan stays O(1).

Deterministic: initial centroids are the k lowest-id vectors, distance
ties break on centroid id, means are exact aggregates — reruns converge
identically, which the tests rely on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ecmm428_pycart_spark.session import checkpoint


def _assign(df: DataFrame, centroids: DataFrame, id_col: str,
            vec_col: str) -> DataFrame:
    cent = centroids.select(F.col("cluster").alias("_c"),
                            F.col("centroid").alias("_cv"))
    joined = df.crossJoin(F.broadcast(cent))
    d2 = F.aggregate(
        F.zip_with(vec_col, "_cv",
                   lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    w = W.partitionBy(id_col).orderBy(F.round(d2, 9).asc(), F.col("_c").asc())
    return (joined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, vec_col, F.col("_c").alias("cluster")))


def _update(assigned: DataFrame, vec_col: str) -> DataFrame:
    return (assigned
            .select("cluster", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_s"))
            .withColumn("centroid", F.transform("_s", lambda s: s["m"]))
            .select("cluster", "centroid"))


def kmeans(df: DataFrame, k: int, iterations: int = 5,
           id_col: str = "vec_id", vec_col: str = "embedding"):
    """Lloyd's algorithm; returns (assignments, centroids).

    assignments: (id, cluster); centroids: (cluster, centroid array).
    """
    init = (df.orderBy(F.col(id_col).asc()).limit(k)
            .select(F.col(id_col), F.col(vec_col)))
    centroids = (init
                 .withColumn("_rn", F.row_number().over(
                     W.orderBy(F.col(id_col).asc())))
                 .select((F.col("_rn") - 1).alias("cluster"),
                         F.transform(vec_col, lambda x: x.cast("double"))
                         .alias("centroid")))
    centroids = checkpoint(centroids)
    assigned = None
    for _ in range(iterations):
        assigned = _assign(df, centroids, id_col, vec_col)
        centroids = checkpoint(_update(assigned, vec_col))
    assigned = _assign(df, centroids, id_col, vec_col)
    return assigned.select(id_col, "cluster"), centroids


def kmeans_grouped(df: DataFrame, k: int, iterations: int = 5,
                   group_col: str = "grp", id_col: str = "vec_id",
                   vec_col: str = "embedding"):
    """Lloyd's over MANY independent groups in one DataFrame program.

    Semantically identical to running ``kmeans`` per group (same
    deterministic init = k lowest ids per group, same round(d2,9) +
    cluster-id tie-break, same exact-mean update), but each iteration
    is ONE broadcast join + ONE aggregation covering every group —
    m groups cost m× fewer Spark jobs than m sequential loops. This is
    what makes product quantization's m per-subspace codebooks train
    in parallel instead of serially (similarity.pq_encode).

    Returns (assignments, centroids): assignments (group, id, cluster);
    centroids (group, cluster, centroid).
    """
    wg = W.partitionBy(group_col).orderBy(F.col(id_col).asc())
    centroids = (df.withColumn("_rn", F.row_number().over(wg))
                 .filter(F.col("_rn") <= k)
                 .select(F.col(group_col),
                         (F.col("_rn") - 1).alias("cluster"),
                         F.transform(vec_col, lambda x: x.cast("double"))
                         .alias("centroid")))
    centroids = checkpoint(centroids)

    def assign(cents):
        cent = cents.select(F.col(group_col).alias("_g"),
                            F.col("cluster").alias("_c"),
                            F.col("centroid").alias("_cv"))
        joined = df.join(F.broadcast(cent), F.col(group_col) == F.col("_g"))
        d2 = F.aggregate(
            F.zip_with(vec_col, "_cv",
                       lambda x, y: (x.cast("double") - y)
                       * (x.cast("double") - y)),
            F.lit(0.0), lambda acc, v: acc + v)
        w = (W.partitionBy(group_col, id_col)
             .orderBy(F.round(d2, 9).asc(), F.col("_c").asc()))
        return (joined.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(group_col, id_col, vec_col,
                        F.col("_c").alias("cluster")))

    assigned = None
    for _ in range(iterations):
        assigned = assign(centroids)
        centroids = checkpoint(
            assigned
            .select(group_col, "cluster",
                    F.posexplode(vec_col).alias("pos", "val"))
            .groupBy(group_col, "cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy(group_col, "cluster")
            .agg(F.array_sort(F.collect_list(
                F.struct("pos", "m"))).alias("_s"))
            .withColumn("centroid", F.transform("_s", lambda s: s["m"]))
            .select(group_col, "cluster", "centroid"))
    assigned = assign(centroids)
    return (assigned.select(group_col, id_col, "cluster"), centroids)
