"""A/B: pre-r12 connected-components loop vs the r12 round-latency cut.

VERDICT r11 ask 2: the dedup macros' measured remaining wall is the CC
loop's driver-round latency (docs/ROUND11_NOTES.md §9 — d15 at sf0.1 =
store-pairs 1.1s + verify 0.9s + CC 3.7s). Round 12 changed the loop:

- the previous label rides along as ``old_label`` through each round's
  plan, so the convergence probe is a count over the already
  materialized checkpoint (every round, nearly free) instead of a
  prev⋈new shuffle join every 2nd round;
- the pointer-jump self-join runs EVERY round, same as the legacy arm
  (an earlier defer-to-round-2 variant was A/B'd flat and reverted —
  docs/ROUND12_NOTES.md; round count × localCheckpoint latency
  dominates, and deferring the jump adds rounds on chain graphs);
- above the loop sits the r12 size gate: ≤ 500k edges short-circuits
  to a driver union-find, so on the bench-scale consumers measured
  here arm B is the union-find, not the loop.

This harness measures what that's worth on the six CC consumers in ONE
warmed session: arm A (``SPARK_GRAFT_CC_LEGACY=1``) = the pre-r12
loop, arm B = the r12 loop. Both stores (crawl + band) are ON and
pre-warmed in both arms, so the diff is the CC loop alone.

Median-of-3 per arm per query, cache cleared between runs, arms
interleaved per query so host drift hits both equally (the
tools/ab_borders_store.py protocol). Run on an otherwise-idle machine.

Usage: python tools/ab_components.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAMES = ["d15_dup_clusters", "d18_dedup_canonical", "d19_corpus_clean",
         "d70_retention_policy", "q133_crawl_pipeline",
         "q136_quality_cascade"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from ecmm428_pycart_spark.benchmarks import get_queries
    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import crawl_store as cs
    from ecmm428_pycart_spark.session import get_spark

    spark = get_spark("ab-components")
    qs = get_queries()
    qs["q01_pricing_summary"](spark, sf_dir).count()  # warm the session

    # both derived-dataset stores warm in BOTH arms — the diff must be
    # the CC loop alone
    cs.crawl_html(spark, sf_dir).count()
    for variant in bs._VARIANTS:
        bs.band_index(spark, sf_dir, variant).count()

    def run(name: str, legacy: bool) -> float:
        if legacy:
            os.environ["SPARK_GRAFT_CC_LEGACY"] = "1"
        else:
            os.environ.pop("SPARK_GRAFT_CC_LEGACY", None)
        t = time.time()
        qs[name](spark, sf_dir).count()
        spark.catalog.clearCache()
        return time.time() - t

    out = {"sf_dir": sf_dir, "queries": {}}
    for name in NAMES:
        a_runs, b_runs = [], []
        for _ in range(3):                      # interleave arms
            a_runs.append(run(name, legacy=True))
            b_runs.append(run(name, legacy=False))
        a = statistics.median(a_runs)
        b = statistics.median(b_runs)
        out["queries"][name] = {
            "legacy_sec": round(a, 3), "r12_sec": round(b, 3),
            "speedup": round(a / b, 2),
            "legacy_runs": [round(x, 3) for x in a_runs],
            "r12_runs": [round(x, 3) for x in b_runs]}
        print(f"# {name}: legacy {a:.2f}s r12 {b:.2f}s "
              f"({a / b:.2f}x)", file=sys.stderr)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
