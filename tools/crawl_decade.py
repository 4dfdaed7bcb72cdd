"""Crawl-family decade-up (VERDICT r9 next-7): time the crawl macros
against a 10× documents corpus with the extraction store's
build-vs-scan split isolated.

``tools/decade_up.py`` deliberately copies ``documents`` through
unchanged (its corpus protocol is the adversarial near-dup one), so
the crawl family needs its own clean 10×: every document replicated
10 times with ``doc_id -> doc_id*10 + k`` (text/source unchanged —
the host/link/media assignments derive from doc_id, so the synthetic
crawl keeps its 13-host / 4-media-type shape at 10× the volume).

Protocol (one warmed local[32] session):
1. build (once, marker-cached) the scratch corpus under
   ``/tmp/pycart_crawl_sf1``;
2. wipe the crawl store root and time each derived-table build
   (html/links/media) at the base sf and at sim-sf1 — the
   build-vs-scan split the extrapolation needs;
3. run each named query ``--samples`` times at both scales on the now
   warm store (the scan path), cache cleared between runs, via
   ``decade_up.time_base_vs_scratch``; slopes = log10(median ratio).

Usage:
  python tools/crawl_decade.py [--samples 3] q133_crawl_pipeline ...

Scratch data stays in /tmp; the doc artifact is docs/SCALE_EXTRAP_r10.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.decade_up import time_base_vs_scratch  # noqa: E402


def build_crawl_sf1(spark, base: str, out: str) -> None:
    from pyspark.sql import functions as F

    marker = os.path.join(out, "_BUILT_FROM")
    if os.path.isfile(marker):
        with open(marker) as f:
            if f.read().strip() == base:
                print(f"# scratch {out} already built from {base}",
                      file=sys.stderr)
                return
    os.makedirs(out, exist_ok=True)
    df = spark.read.parquet(os.path.join(base, "documents.parquet"))
    df = (df.select("*", F.explode(F.sequence(F.lit(0), F.lit(9)))
                    .alias("_k"))
          .withColumn("doc_id", (F.col("doc_id") * 10 + F.col("_k"))
                      .cast(dict(df.dtypes)["doc_id"]))
          .drop("_k"))
    (df.repartition(32).write.mode("overwrite")
     .parquet(os.path.join(out, "documents.parquet")))
    n = spark.read.parquet(os.path.join(out, "documents.parquet")).count()
    with open(marker, "w") as f:
        f.write(base)
    print(f"# built 10x documents: {n} rows", file=sys.stderr)


def time_store_builds(spark, sf_dir: str) -> dict:
    """Force a fresh build of each derived table and time it — the
    one-time cost the first consumer pays at this corpus size. Since
    round 11 the crawl family also reads the LSH band-index store
    (q133's dedup stage), so its builds are timed here too — an
    untimed first-sample build inside the query loop would otherwise
    poison the slope."""
    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import crawl_store as cs

    out = {}
    for kind, fn in [("html", cs.crawl_html), ("links", cs.crawl_links),
                     ("media", cs.crawl_media)]:
        t0 = time.time()
        fn(spark, sf_dir).count()
        out[kind] = round(time.time() - t0, 3)
    for variant in bs._VARIANTS:
        t0 = time.time()
        bs.band_index(spark, sf_dir, variant).count()
        out[f"bands_{variant}"] = round(time.time() - t0, 3)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scratch", default="/tmp/pycart_crawl_sf1")
    args = ap.parse_args()

    from ecmm428_pycart_spark.datapipe import store
    from ecmm428_pycart_spark.datapipe import crawl_store as cs
    from ecmm428_pycart_spark.session import get_spark

    spark = get_spark("crawl-decade")
    build_crawl_sf1(spark, args.base, args.scratch)

    # observed, not inherited: wipe the stores so both scales' builds
    # are timed in this session, then the query loop scans warm tables
    shutil.rmtree(store.family_root("crawl"), ignore_errors=True)
    shutil.rmtree(store.family_root("band"), ignore_errors=True)
    # warm the Arrow/python-worker path before timing any build: the
    # first pandas-UDF call in a session pays worker spawn + codegen,
    # which at toy corpus sizes dwarfs the per-byte work and inverted
    # the base-vs-sf1 build comparison on the first cut of this tool
    cs._fresh_media(spark, args.base).limit(64).count()
    builds = {"base": time_store_builds(spark, args.base),
              "sim_sf1": time_store_builds(spark, args.scratch)}
    print(f"# store builds: {builds}", file=sys.stderr)

    result = time_base_vs_scratch(
        spark, args.names, args.base, args.scratch, args.samples,
        # documents-only warm: the crawl scratch dirs carry no TPC-H
        # tables, and stacked runs use a prior scratch as the base
        warm="d02_text_stats")
    result["store_build_sec"] = builds
    print(json.dumps(result))


if __name__ == "__main__":
    main()
