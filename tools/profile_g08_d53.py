"""Stage-level profiles of g08_dorling_scalable_large and
d53_edit_neardup — the two heaviest registry entries without a
committed stage attribution after the r13 lever set (bench record
5.5s / 2.0s, docs/BENCH_SPREAD_r13.json run 14).

g08 runs only THREE Jacobi iterations, so its wall is split between
the dorling setup (Queen borders at 15k regions + calibration
collect), the 3 loop rounds, and the final buffer+checksum — this
profile separates them by timing iterations=0 vs iterations=3 on the
same warmed session (setup/finish cost cancels in the difference).

d53's verify is a bounded levenshtein inside the block self-join
stage — the same AQE-coalesced-CPU-stage shape §3c fixed for the
jaccard verify; the probe arm re-times the join with the pair stream
spread to session parallelism before the distance filter.

Same methodology as profile_d60_d28.py: warmed session, second run
reported (first carries codegen warmup). Run on an idle host.

Usage: python tools/profile_g08_d53.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def clockers(t):
    def clock(name, fn):
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 2)
        return out
    return clock


def profile_g08(spark, sf_dir):
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.plans.cartogram import Cartogram

    t = {}
    clock = clockers(t)
    chk = lambda c: F.sum(F.round(F.col(c) * 10000, 0).cast("long")) \
        .alias(f"{c}_chk")

    def run(iters):
        grid = _customer_grid(spark, sf_dir)
        cart = Cartogram(grid, "value", "region_idx",
                         idx_field="region_idx")
        out = cart.dorling(iterations=iters, mode="scalable")
        return (out.agg(F.count(F.lit(1)).alias("n"),
                        chk("cx"), chk("cy"), chk("radius")).count())

    # setup alone (borders materialization + calibration collect)
    def setup_only():
        grid = _customer_grid(spark, sf_dir)
        cart = Cartogram(grid, "value", "region_idx",
                         idx_field="region_idx")
        state, borders, widest = cart._dorling_setup(
            scalable=True)
        return state.count()

    clock("1_setup_only", setup_only)
    clock("2_full_iter0", lambda: run(0))
    clock("3_full_iter3", lambda: run(3))
    t["per_iteration"] = round((t["3_full_iter3"] - t["2_full_iter0"]) / 3, 2)
    t["finish_overhead"] = round(t["2_full_iter0"] - t["1_setup_only"], 2)
    return t


def profile_d53(spark, sf_dir):
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.text import normalize_text
    from ecmm428_pycart_spark.session import load_table

    t = {}
    clock = clockers(t)
    docs = load_table(spark, sf_dir, "documents")

    # The blocking constants are read off the SHIPPED operator's
    # signature (dedup.edit_neardup_pairs — d53 calls it with only
    # max_dist=8 overridden), so this profile cannot silently measure
    # a stale shape if the defaults change (ADVICE r13).
    import inspect

    from ecmm428_pycart_spark.datapipe.dedup import edit_neardup_pairs
    sig = {k: p.default for k, p in
           inspect.signature(edit_neardup_pairs).parameters.items()}
    length_bucket, prefix_len, block_cap = (
        sig["length_bucket"], sig["prefix_len"], sig["block_cap"])
    max_dist = 8  # d53's explicit override (benchmarks/queued6.py)

    # stage 1: normalize + (len-bucket, prefix) blocking + block cap
    from pyspark.sql.window import Window
    n = docs.select("doc_id", normalize_text(F.col("text")).alias("_norm"))
    b = n.select(
        "doc_id", "_norm",
        F.floor(F.length("_norm") / length_bucket).cast("long").alias("_lb"),
        F.substring("_norm", 1, prefix_len).alias("_pfx"))
    w = Window.partitionBy("_lb", "_pfx").orderBy(F.col("doc_id").asc())
    capped = clock("1_block_cap_ckpt", lambda: (
        b.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= block_cap).drop("_rn")
        .localCheckpoint(eager=True)))

    def verify(spread):
        a = capped.select(F.col("doc_id").alias("doc_a"),
                          F.col("_norm").alias("_na"), "_lb", "_pfx")
        c = capped.select(F.col("doc_id").alias("doc_b"),
                          F.col("_norm").alias("_nb"), "_lb", "_pfx")
        pairs = (a.join(c, ["_lb", "_pfx"])
                 .filter(F.col("doc_a") < F.col("doc_b")))
        if spread:
            pairs = pairs.repartition(
                spark.sparkContext.defaultParallelism)
        return (pairs.withColumn(
                    "dist", F.levenshtein("_na", "_nb", max_dist)
                    .cast("long"))
                .filter(F.col("dist") >= 0)
                .select("doc_a", "doc_b", "dist").count())

    # stage 2: block self-join + bounded levenshtein, as shipped
    clock("2_verify_asis", lambda: verify(False))
    # probe arm: pair stream spread to parallelism before the distance
    clock("3_verify_spread", lambda: verify(True))
    t["n_capped"] = capped.count()
    return t


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from ecmm428_pycart_spark.session import get_spark
    spark = get_spark("profile-g08-d53")
    out = {}
    for rep in (1, 2):
        out[f"g08_run{rep}"] = profile_g08(spark, sf_dir)
        out[f"d53_run{rep}"] = profile_d53(spark, sf_dir)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
