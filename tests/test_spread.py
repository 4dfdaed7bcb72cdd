"""Tests for ``session.spread_small`` (the r13b map-stage parallelism
helper) and the q71 two-level-aggregation rewrite it shipped alongside.

spread_small exists because the testdata parquet files are single-file
single-row-group: every pre-shuffle map stage otherwise runs as ONE
task regardless of core count. The helper must (a) raise the partition
count of under-parallel frames to the session's default parallelism,
(b) leave already-parallel frames untouched (the production no-op), and
(c) be a pure row-preserving materialization knob — results identical
with it on or replaced by the identity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from ecmm428_pycart_spark.session import spread_small


def test_spread_raises_partitions_to_default_parallelism(spark):
    df = spark.createDataFrame(
        [Row(i=i) for i in range(100)]).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = spread_small(df)
    assert out.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    # row-preserving: same multiset of rows
    assert sorted(r.i for r in out.collect()) == list(range(100))


def test_spread_is_noop_when_already_parallel(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target + 3)
    out = spread_small(df)
    # must return the input unchanged — no extra Exchange at scale
    assert out is df


def _grab_unspread(monkeypatch, grab):
    """``grab()`` with both spread helpers replaced by the identity —
    the pre-r13b plans. The callers import them at call time, so
    patching the session module reaches them."""
    from ecmm428_pycart_spark import session

    with monkeypatch.context() as m:
        m.setattr(session, "spread_small", lambda df, max_tasks=None: df)
        m.setattr(session, "spread_cpu", lambda df: df)
        return grab()


def test_winnow_pairs_identical_with_and_without_spread(spark,
                                                        monkeypatch):
    """The d60 lever is a pure materialization change: pair output must
    be identical with spreading replaced by the identity (the pre-r13b
    plan)."""
    from ecmm428_pycart_spark.datapipe.dedup import winnow_dup_pairs
    # 8 groups of 5 near-identical docs: within a group the long shared
    # body yields shared fingerprints with document frequency 5 (under
    # the max_df=16 cap), so cross-doc pairs survive; the group salt
    # keeps fingerprints from going corpus-frequent
    rows = [Row(doc_id=i,
                text=(f"group{i // 5} corpus body " +
                      f"alpha beta gamma delta g{i // 5} " * 6) +
                f" tail{i}")
            for i in range(40)]
    df = spark.createDataFrame(rows)

    def grab():
        return sorted(map(tuple, winnow_dup_pairs(df).collect()))

    off = _grab_unspread(monkeypatch, grab)
    on = grab()
    assert off == on
    assert off  # non-vacuous: the fixture must produce pairs


def test_jaccard_pairs_identical_with_and_without_spread(spark,
                                                         monkeypatch):
    """The verify-stage spread (session.spread_cpu inside
    dedup.jaccard_pairs) is a pure materialization change: verified
    pair output must be identical with spreading replaced by the
    identity (the pre-r13b plan)."""
    from ecmm428_pycart_spark.datapipe.dedup import jaccard_pairs
    docs = spark.createDataFrame(
        [Row(doc_id=i,
             text=f"alpha beta gamma delta epsilon zeta tail{i % 3}")
         for i in range(12)])
    pairs = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a in range(12) for b in range(12)
         if a < b])

    def grab():
        return sorted(map(tuple, jaccard_pairs(docs, pairs,
                                               threshold=0.5).collect()))

    off = _grab_unspread(monkeypatch, grab)
    on = grab()
    assert off == on
    assert off  # non-vacuous: same-tail docs share 7 of 8 shingles


def test_q71_two_level_agg_matches_double_count_distinct(spark):
    """The r13b rewrite replaced two countDistincts (Expand x3) with a
    (order, supp) pre-aggregation. Pin equivalence on a synthetic frame
    that exercises every branch: multi-supplier orders, orders where
    one / several / no suppliers are late, repeated (order, supp) lines
    with mixed lateness."""
    rows = []
    # order 1: supps 10, 20; only 20 late (twice) -> qualifies
    rows += [(1, 10, 0), (1, 20, 1), (1, 20, 1)]
    # order 2: supps 10, 20; both late -> n_late = 2, filtered
    rows += [(2, 10, 1), (2, 20, 1)]
    # order 3: single supplier late -> n_supp = 1, filtered
    rows += [(3, 30, 1)]
    # order 4: supp 10 late on one line, on time on another; supp 40
    # never late -> qualifies with the_late_supp = 10
    rows += [(4, 10, 1), (4, 10, 0), (4, 40, 0)]
    # order 5: nobody late -> n_late = 0, filtered
    rows += [(5, 10, 0), (5, 50, 0)]
    flagged = spark.createDataFrame(
        [Row(l_orderkey=o, l_suppkey=s,
             late_supp=(s if late else None))
         for o, s, late in rows])

    old = (flagged.groupBy("l_orderkey")
           .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                F.countDistinct("late_supp").alias("n_late"),
                F.max("late_supp").alias("the_late_supp"))
           .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)))
    per_pair = (flagged.groupBy("l_orderkey", "l_suppkey")
                .agg(F.max(F.when(F.col("late_supp").isNotNull(), 1)
                           .otherwise(0)).alias("is_late")))
    new = (per_pair.groupBy("l_orderkey")
           .agg(F.count(F.lit(1)).alias("n_supp"),
                F.sum("is_late").alias("n_late"),
                F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey")))
                .alias("the_late_supp"))
           .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)))

    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(old) == key(new)
    assert [r.l_orderkey for r in old.collect()] != []  # non-vacuous
    # schema parity (the driver hashes column names and types)
    assert [f.name for f in old.schema] == [f.name for f in new.schema]
    assert [f.dataType for f in old.schema] == \
        [f.dataType for f in new.schema]


def test_m12_fused_kernel_matches_three_stage_chain(spark):
    """The r13c m12 fusion (synth→decode→resize→ints in one
    mapInPandas crossing) must reproduce the three-stage chain's
    output row-for-row — same fixtures, same decode, same box means."""
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = spark.range(0, 200).toDF("doc_id")
    payload = docs.withColumn(
        "payload",
        multimodal.synth_png_gradient_min4_payload(F.col("doc_id")))
    resized = multimodal.resize_image(payload, width=4, height=4)
    chain = resized.select(
        "doc_id",
        multimodal.binary_to_ints(F.col("pixels")).alias("vals"))
    fused = multimodal.synth_gradient_resize_vals(docs, width=4,
                                                  height=4)
    key = lambda df: sorted((r.doc_id, tuple(r.vals))
                            for r in df.collect())
    a, b = key(chain), key(fused)
    assert a == b
    assert len(a) == 200 and all(len(v) == 16 for _, v in a)
    # schema parity (the driver hashes column names and types)
    assert [ (f.name, f.dataType) for f in chain.schema ] == \
        [ (f.name, f.dataType) for f in fused.schema ]


def test_jaccard_verify_exchange_is_narrow_at_multi_partition_input(spark):
    """VERDICT r13 next-6: spread_small is identity when the input
    already carries >= parallelism partitions, but spread_cpu
    unconditionally exchanges the pair stream. Pin the 100 TB no-op
    claim as a plan shape: at a multi-partition input the jaccard
    verify path adds EXACTLY ONE round-robin Exchange, and it moves
    only the two pair-id columns (the projection happens before the
    repartition) — a future edit must not sneak the full text (or the
    shingle sets) into that shuffle."""
    import re

    from ecmm428_pycart_spark.datapipe.dedup import jaccard_pairs

    par = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta tail{i % 5}")
         for i in range(20 * par)])
    pairs = spark.createDataFrame(
        [Row(doc_a=a, doc_b=a + 1) for a in range(0, 20 * par - 1, 2)])
    # both inputs are already at session parallelism -> spread_small
    # must not add an exchange of (id, text)
    assert docs.rdd.getNumPartitions() >= par
    assert pairs.rdd.getNumPartitions() >= par

    out = jaccard_pairs(docs, pairs)
    m = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = out._jdf.queryExecution().explainString(m)

    # exactly one round-robin exchange in the whole plan (Spark 4.1
    # prints "RoundRobinPartitioning" in the Arguments detail line)
    details = re.findall(
        r"\(\d+\) Exchange\nInput \[(\d+)\]: \[([^\]]*)\]\n"
        r"Arguments: roundrobinpartitioning", plan, re.IGNORECASE)
    assert len(details) == 1, (
        f"expected exactly 1 round-robin Exchange, plan:\n{plan}")
    n_cols, cols = details[0]
    names = [c.strip().split("#")[0] for c in cols.split(",")]
    assert int(n_cols) == 2 and sorted(names) == ["doc_a", "doc_b"], (
        f"verify exchange must move only the pair ids, got {names}")
