"""Round-5 registration queue: the six TPC-H plan shapes the registry
does not yet carry (Q2, Q9, Q11, Q14, Q16, Q20), completing all 22.

NOT collected by ``registry._modules()`` this round: round 5's 50-slot
driver window is exactly full with the deferred backlog (see
``registry.DEFERRED_TO_NEXT_ROUND`` and docs/ROUND5_QUEUE.md), so these
register in round 5 and gate in round 6. Until then the hard signal is
``tests/test_queued_queries.py``, which runs every entry here against
its DuckDB oracle with the driver's own canonicalization (column-sorted,
row-sorted, 9-digit float normalization).

Schema adaptations (the driver's star schema has no partsupp table and
no l_shipmode/commitdate): the part-supplier "offer" relation is derived
from lineitem (distinct l_partkey x l_suppkey), supply cost is a fixed
fraction of p_retailprice, and Q16's "customer complaints" exclusion
keys on s_name. Each docstring states the plan shape and its 100 TB
rationale; conventions (cents-BIGINT money, identical aliases, rounded
doubles only at output, deterministic tiebreaks) follow
benchmarks/relational.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ecmm428_pycart_spark.operators.relational import semi_join
from ecmm428_pycart_spark.session import load_table as _t

QUERIES = {}
ORACLES = {}


def q(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = sql
        return fn
    return deco


def _collect_then_cleanup(df: DataFrame, *paths: str) -> DataFrame:
    """Materialize a (small, already-aggregated) roundtrip result to
    driver rows, delete the temp dirs the query wrote, and return an
    in-memory DataFrame with the same schema. Roundtrip queries
    (m23/q92/q99/st15) used to leak their mkdtemp dirs on every gate
    run because the returned DataFrame still lazily read the on-disk
    artifacts; eager materialization bounds that lifetime to the query
    call (outputs are O(groups) rows, never corpus-sized)."""
    import shutil

    rows = df.collect()
    schema = df.schema
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
    return df.sparkSession.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# TPC-H Q2 shape (minimum-cost supplier): for every small part, the
# EUROPE suppliers whose best unit price equals the part's minimum unit
# price. The correlated `= (SELECT min(...) ... same part)` subquery is
# decorrelated into aggregate-then-join: per-(part, supplier) min unit
# price, per-part min over those, equi-join back on (part, exact
# price). All three dimension tables (supplier/nation/region) broadcast
# into the lineitem scan, so the only shuffle is the two-level groupBy
# on (l_partkey, l_suppkey) — map-side partial min, no self-join of the
# fact table. Unit price stays an UNROUNDED double through min and the
# equality match (both engines compute bit-identical IEEE quotients
# from the same parquet values); rounding happens only at output.
# TakeOrderedAndProject handles the ORDER BY+LIMIT without a global
# sort. Ref parity note: reference has no partsupp analogue; offers are
# derived from observed lineitem sales.
# ---------------------------------------------------------------------------
@q("q84_min_cost_supplier", """
WITH eu_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
),
offers AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem JOIN eu_supp ON s_suppkey = l_suppkey
  GROUP BY 1, 2
),
best AS (SELECT l_partkey, min(unit_price) AS best FROM offers GROUP BY 1)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       p_partkey, p_type, round(best, 4) AS best_price
FROM offers
JOIN best USING (l_partkey)
JOIN eu_supp ON eu_supp.s_suppkey = offers.l_suppkey
JOIN part ON p_partkey = l_partkey
WHERE unit_price = best AND p_size <= 10
ORDER BY s_acctbal DESC, s_name ASC, p_partkey ASC
LIMIT 100
""")
def q84_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    region = (_t(spark, sf_dir, "region")
              .filter(F.col("r_name") == "EUROPE").select("r_regionkey"))
    eu_supp = (_t(spark, sf_dir, "supplier")
               .join(F.broadcast(nation),
                     F.col("n_nationkey") == F.col("s_nationkey"))
               .join(F.broadcast(region),
                     F.col("r_regionkey") == F.col("n_regionkey"))
               .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    offers = (_t(spark, sf_dir, "lineitem")
              .select("l_partkey", "l_suppkey",
                      (F.col("l_extendedprice") / F.col("l_quantity"))
                      .alias("up"))
              .join(F.broadcast(eu_supp.select("s_suppkey")),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .groupBy("l_partkey", "l_suppkey")
              .agg(F.min("up").alias("unit_price")))
    best = offers.groupBy("l_partkey").agg(F.min("unit_price").alias("best"))
    # part filter is per-partkey, so pushing it below `best` is
    # equivalent and prunes the dimension before the broadcast
    small_part = (_t(spark, sf_dir, "part")
                  .filter(F.col("p_size") <= 10)
                  .select("p_partkey", "p_type"))
    return (offers
            .join(best, "l_partkey")
            .filter(F.col("unit_price") == F.col("best"))
            .join(F.broadcast(small_part),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(eu_supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.round("s_acctbal", 2).alias("s_acctbal"), "s_name",
                    "n_name", "p_partkey", "p_type",
                    F.round("best", 4).alias("best_price"))
            .orderBy(F.col("s_acctbal").desc(), F.col("s_name").asc(),
                     F.col("p_partkey").asc())
            .limit(100))


# ---------------------------------------------------------------------------
# TPC-H Q9 shape (product-type profit): profit per supplier nation per
# order year over a part-name LIKE filter. Supply cost is modeled as
# 60% of p_retailprice (no partsupp in this schema). The LIKE-filtered
# part and the supplier->nation lookup broadcast into the lineitem
# scan; the one real shuffle is the orderkey join to orders for the
# year (fact-fact, sort-merge, AQE-coalesced) followed by the 2-column
# groupBy. Profit is computed per-row in cents (round half-away is
# identical in Spark HALF_UP and DuckDB for the same IEEE input) and
# summed as BIGINT so both engines hash identically.
# ---------------------------------------------------------------------------
@q("q85_product_profit", """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity) * 100) AS BIGINT))
             AS BIGINT) / 100.0, 2) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation ASC, o_year DESC
""")
def q85_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    red_part = (_t(spark, sf_dir, "part")
                .filter(F.col("p_name").like("%red%"))
                .select("p_partkey", "p_retailprice"))
    supp_nation = (_t(spark, sf_dir, "supplier")
                   .join(F.broadcast(_t(spark, sf_dir, "nation")),
                         F.col("n_nationkey") == F.col("s_nationkey"))
                   .select("s_suppkey", "n_name"))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"))
    li = (_t(spark, sf_dir, "lineitem")
          .join(F.broadcast(red_part),
                F.col("p_partkey") == F.col("l_partkey"))
          .join(F.broadcast(supp_nation),
                F.col("s_suppkey") == F.col("l_suppkey"))
          .select(F.col("n_name").alias("nation"), "l_orderkey",
                  F.round((F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))
                           - 0.6 * F.col("p_retailprice")
                           * F.col("l_quantity")) * 100)
                  .cast("long").alias("profit_cents")))
    return (li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("nation", "o_year")
            .agg(F.round(F.sum("profit_cents") / 100.0, 2)
                 .alias("sum_profit"))
            .orderBy(F.col("nation").asc(), F.col("o_year").desc()))


# ---------------------------------------------------------------------------
# TPC-H Q11 shape (important stock): parts whose revenue from a 2-nation
# supplier group exceeds 1.5x the mean part value — the global-scalar
# HAVING. Two passes over the SAME per-part aggregate (never the fact
# table): pass 1 groups lineitem by partkey (map-side partial sums);
# pass 2 reduces that small aggregate to a 1-row mean and broadcasts it
# back as a single-row BroadcastNestedLoopJoin — the documented O(1)-row
# BNLJ pattern (_BNLJ_OK; add this name to the allowlist when it
# registers). The threshold compares exact BIGINT cents against the
# exact double mean, no row-level rounding.
# ---------------------------------------------------------------------------
@q("q86_important_stock", """
WITH val AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS part_cents
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_7')
  GROUP BY 1
),
thr AS (SELECT 1.5 * avg(part_cents) AS cut FROM val)
SELECT l_partkey, round(part_cents / 100.0, 2) AS part_value
FROM val, thr
WHERE part_cents > cut
ORDER BY part_value DESC, l_partkey ASC
""")
def q86_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp_supp = (_t(spark, sf_dir, "supplier")
                .join(F.broadcast(
                    _t(spark, sf_dir, "nation")
                    .filter(F.col("n_name").isin("NATION_3", "NATION_7"))),
                    F.col("n_nationkey") == F.col("s_nationkey"))
                .select("s_suppkey"))
    val = (_t(spark, sf_dir, "lineitem")
           .join(F.broadcast(grp_supp),
                 F.col("s_suppkey") == F.col("l_suppkey"))
           .select("l_partkey",
                   F.round(F.col("l_extendedprice")
                           * (1 - F.col("l_discount")) * 100)
                   .cast("long").alias("cents"))
           .groupBy("l_partkey")
           .agg(F.sum("cents").alias("part_cents")))
    thr = val.agg((1.5 * F.avg("part_cents")).alias("cut"))
    return (val.join(F.broadcast(thr))
            .filter(F.col("part_cents") > F.col("cut"))
            .select("l_partkey",
                    F.round(F.col("part_cents") / 100.0, 2)
                    .alias("part_value"))
            .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc()))


# ---------------------------------------------------------------------------
# TPC-H Q14 shape (promo revenue): percentage of one month's revenue
# from PROMO-type parts — conditional-sum / sum in ONE aggregation over
# one broadcast-joined scan (no second pass, no self-join). The
# l_shipdate month predicate pushes into the parquet scan; part is a
# broadcast dim. Cents-BIGINT numerator and denominator; one double
# division at the end, rounded identically.
# ---------------------------------------------------------------------------
@q("q87_promo_revenue", """
SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
           THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           ELSE 0 END) AS BIGINT)
       / CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
""")
def q87_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate")
                   >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
                  & (F.col("l_shipdate")
                     < F.lit("1996-04-01 00:00:00").cast("timestamp")))
          .select("l_partkey",
                  F.round(F.col("l_extendedprice")
                          * (1 - F.col("l_discount")) * 100)
                  .cast("long").alias("cents")))
    joined = li.join(F.broadcast(part),
                     F.col("p_partkey") == F.col("l_partkey"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO",
                         F.col("cents")).otherwise(F.lit(0).cast("long")))
    return joined.agg(
        F.round(100.0 * promo / F.sum("cents"), 4)
        .alias("promo_revenue_pct"))


# ---------------------------------------------------------------------------
# TPC-H Q16 shape (supplier relationship): distinct supplier counts per
# (brand, type, size) over filtered parts, excluding a NOT-IN supplier
# set. The part-supplier relation is DISTINCT (l_partkey, l_suppkey)
# from lineitem — dedup'd map-side before the exchange; the part filter
# and the exclusion both broadcast (the NOT IN becomes an inner join
# against the pre-filtered complement — suppliers are a dimension, so
# the complement is cheap; at 100 TB with a fact-sized exclusion list
# this would flip to a broadcast anti-join, same plan family). The
# count(DISTINCT) runs on (group keys, suppkey) — Spark expands to a
# two-level aggregate with partial dedup, no row explosion.
# ---------------------------------------------------------------------------
@q("q88_supplier_relationship", """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok_supp AS (SELECT s_suppkey FROM supplier WHERE s_name NOT LIKE '%7'),
sel_part AS (
  SELECT p_partkey, p_brand, p_type, p_size FROM part
  WHERE p_brand <> 'Brand#13' AND p_type <> 'MEDIUM'
    AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
)
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs
JOIN sel_part ON p_partkey = l_partkey
JOIN ok_supp ON s_suppkey = l_suppkey
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
""")
def q88_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    sel_part = (_t(spark, sf_dir, "part")
                .filter((F.col("p_brand") != "Brand#13")
                        & (F.col("p_type") != "MEDIUM")
                        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
                .select("p_partkey", "p_brand", "p_type", "p_size"))
    ok_supp = (_t(spark, sf_dir, "supplier")
               .filter(~F.col("s_name").like("%7"))
               .select("s_suppkey"))
    pairs = (_t(spark, sf_dir, "lineitem")
             .select("l_partkey", "l_suppkey").distinct())
    return (pairs
            .join(F.broadcast(sel_part),
                  F.col("p_partkey") == F.col("l_partkey"))
            .join(F.broadcast(ok_supp),
                  F.col("s_suppkey") == F.col("l_suppkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand").asc(),
                     F.col("p_type").asc(), F.col("p_size").asc()))


# ---------------------------------------------------------------------------
# TPC-H Q20 shape (potential part promotion): suppliers in a 3-nation
# group who shipped more than a threshold quantity of any small part in
# a 2-year window — the nested IN/EXISTS chain as a cascade of
# aggregates and LEFT SEMI joins, never materializing a fact-fact
# join. lineitem is filtered by date (scan pushdown) and by the
# broadcast small-part keys, aggregated per (part, supplier) with
# map-side partials, thresholded, reduced to DISTINCT supplier keys
# map-side, then semi-joined into the supplier dimension. l_quantity
# values are integral doubles, so the sum is exact in both engines; no
# rounding needed in the threshold compare.
# ---------------------------------------------------------------------------
@q("q89_part_promotion", """
WITH small_part AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
shipped AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem
  JOIN small_part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
),
heavy AS (SELECT DISTINCT l_suppkey FROM shipped WHERE qty > 40),
grp AS (SELECT n_nationkey, n_name FROM nation
        WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_12'))
SELECT s_name, n_name
FROM supplier
JOIN heavy ON l_suppkey = s_suppkey
JOIN grp ON n_nationkey = s_nationkey
ORDER BY s_name ASC
""")
def q89_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    small_part = (_t(spark, sf_dir, "part")
                  .filter(F.col("p_name").like("small%"))
                  .select("p_partkey"))
    shipped = (_t(spark, sf_dir, "lineitem")
               .filter((F.col("l_shipdate")
                        >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                       & (F.col("l_shipdate")
                          < F.lit("1998-01-01 00:00:00").cast("timestamp")))
               .join(F.broadcast(small_part),
                     F.col("p_partkey") == F.col("l_partkey"))
               .groupBy("l_partkey", "l_suppkey")
               .agg(F.sum("l_quantity").alias("qty")))
    heavy = (shipped.filter(F.col("qty") > 40)
             .select("l_suppkey").distinct())
    grp = (_t(spark, sf_dir, "nation")
           .filter(F.col("n_name").isin("NATION_3", "NATION_8", "NATION_12"))
           .select("n_nationkey", "n_name"))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(grp),
                  F.col("n_nationkey") == F.col("s_nationkey"))
            .select("s_suppkey", "s_name", "n_name"))
    return (semi_join(supp, heavy.withColumnRenamed("l_suppkey", "s_suppkey"),
                      "s_suppkey")
            .select("s_name", "n_name")
            .orderBy(F.col("s_name").asc()))


# ---------------------------------------------------------------------------
# Local clustering coefficient over the customer-grid contiguity graph
# (queen adjacency) — the per-node density signal community detection
# starts from. Spark side: one degree aggregate + the shared
# degree-ordered per_node_triangles pass (datapipe/graph.py; hub-safe:
# oriented out-degree is O(sqrt(|E|))). Oracle: the same grid-adjacency
# edge CTE g11 uses, brute-force wedge counting — affordable in DuckDB
# at oracle scale, which is the point of having Spark do it the
# oriented way.
# ---------------------------------------------------------------------------
@q("g18_clustering_coeff", """
WITH p AS (
  SELECT CAST(ceiling(sqrt(count(*))) AS BIGINT) AS side FROM customer
),
g AS (
  SELECT c_custkey AS k, c_custkey % side AS gx, c_custkey // side AS gy
  FROM customer, p
),
e AS (
  SELECT a.k AS a, b.k AS b
  FROM g a JOIN g b
    ON (a.k < b.k AND abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1)
),
und AS (SELECT a AS s, b AS t FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT s AS k, CAST(count(*) AS BIGINT) AS degree
        FROM und GROUP BY s),
tri AS (
  SELECT x.k, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT e1.a AS x1, e1.b AS y, e2.b AS z
    FROM e e1 JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
  ) t, LATERAL (VALUES (t.x1), (t.y), (t.z)) AS x(k)
  GROUP BY x.k
)
SELECT CAST(deg.k AS BIGINT) AS region_idx, degree,
       coalesce(n_triangles, 0) AS n_triangles,
       CASE WHEN degree >= 2
            THEN round(2.0 * coalesce(n_triangles, 0)
                       / (degree * (degree - 1.0)), 6)
            ELSE 0.0 END AS coeff
FROM deg LEFT JOIN tri ON tri.k = deg.k
""")
def g18_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.datapipe.graph import clustering_coefficient
    from ecmm428_pycart_spark.operators.borders import get_borders

    grid = _customer_grid(spark, sf_dir).drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    und = borders.select("focal", "neighbor")
    return (clustering_coefficient(und, "focal", "neighbor")
            .withColumnRenamed("node", "region_idx"))


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020) over the
# documents table: Stupid Backoff bigram LM scores -> exact tercile
# cuts -> head/middle/tail triage counts. Composes the validated d37
# scoring pipeline with ONE exact percentile aggregate over the
# per-doc score table (|docs| doubles), broadcast back as a 1-row
# join; classification is map-side. At real 100 TB-of-docs scale the
# cuts come from percentile_approx or a calibration sample (CCNet's
# own procedure) — documented in text.perplexity_buckets.
# ---------------------------------------------------------------------------
@q("d43_perplexity_buckets", """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (
  SELECT doc_id, ws[i.i] AS w1, ws[i.i + 1] AS w2
  FROM t, unnest(range(1, len(ws))) AS i(i)
  WHERE len(ws) >= 2
),
uni AS (SELECT w, count(*) AS cu
        FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
tot AS (SELECT sum(cu) AS total FROM uni),
bgc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, sum(cb) AS cc FROM bgc GROUP BY 1),
scored AS (
  SELECT bg.doc_id,
         round(avg(ln(CASE WHEN bgc.cb IS NOT NULL
                           THEN bgc.cb::DOUBLE / ctx.cc
                           ELSE 0.4 * uni.cu::DOUBLE / tot.total END)), 6)
           AS lm_bigram
  FROM bg
  LEFT JOIN bgc USING (w1, w2)
  LEFT JOIN ctx USING (w1)
  LEFT JOIN uni ON uni.w = bg.w2
  CROSS JOIN tot
  GROUP BY bg.doc_id
),
alldocs AS (
  SELECT t.doc_id, scored.lm_bigram
  FROM t LEFT JOIN scored USING (doc_id)
),
thr AS (
  SELECT quantile_cont(lm_bigram, 1.0/3) AS t_lo,
         quantile_cont(lm_bigram, 2.0/3) AS t_hi
  FROM alldocs
),
lab AS (
  SELECT CASE WHEN lm_bigram IS NULL THEN 'unscored'
              WHEN lm_bigram < t_lo THEN 'tail'
              WHEN lm_bigram < t_hi THEN 'middle'
              ELSE 'head' END AS bucket,
         lm_bigram
  FROM alldocs, thr
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(lm_bigram), 6) AS avg_lm
FROM lab GROUP BY bucket
""")
def d43_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import lm_store
    from ecmm428_pycart_spark.datapipe.text import perplexity_buckets

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # count tables from the write-once lm_store (exact-long counts —
    # scores bit-identical to counting fresh)
    return (perplexity_buckets(docs, counts=lm_store.count_tables(
                spark, sf_dir, "documents"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("lm_bigram"), 6).alias("avg_lm")))


# ---------------------------------------------------------------------------
# Distributed PCA projection (datapipe/pca.py): top-4 principal
# components of the embeddings table via one mapInPandas moment pass +
# driver eigensolve, projections map-side. SQL cannot eigensolve, so
# the oracle is a golden VALUES table dispatched on the per-sf
# embeddings fingerprint (count, rounded sum of the leading dim) —
# the k01/s11 pattern; the projection itself is numpy-replay-pinned
# and layout-determinism-pinned in tests/test_pipeline.py.
# ---------------------------------------------------------------------------
@q("s18_pca_project", """
WITH fp AS (
  SELECT count(*) AS n, round(sum(embedding[1])::DOUBLE, 4) AS s
  FROM embeddings
),
g(n, s, label, n_vectors, sum_pc1, sum_abs) AS (VALUES
(500, -1.464, 0, 56, -0.0523, 32.1978),
(500, -1.464, 1, 47, -0.458, 25.5695),
(500, -1.464, 2, 54, 1.5954, 27.4228),
(500, -1.464, 3, 43, -1.678, 22.8076),
(500, -1.464, 4, 48, -0.8118, 26.3257),
(500, -1.464, 5, 51, 0.5655, 27.657),
(500, -1.464, 6, 42, 0.6792, 18.886),
(500, -1.464, 7, 50, -0.8458, 25.9332),
(500, -1.464, 8, 46, -1.1121, 24.5687),
(500, -1.464, 9, 63, 2.1179, 31.9746),
(500, 1.0824, 0, 50, -0.4635, 25.7059),
(500, 1.0824, 1, 46, -0.9292, 25.828),
(500, 1.0824, 2, 47, 0.9534, 23.8187),
(500, 1.0824, 3, 59, -0.1094, 30.2579),
(500, 1.0824, 4, 52, 0.4054, 27.2824),
(500, 1.0824, 5, 44, 1.093, 23.5328),
(500, 1.0824, 6, 46, -0.6962, 23.4419),
(500, 1.0824, 7, 53, -0.5674, 27.0195),
(500, 1.0824, 8, 49, -0.9402, 26.3561),
(500, 1.0824, 9, 54, 1.2542, 28.713),
(2000, 1.5308, 0, 199, 0.3468, 88.6148),
(2000, 1.5308, 1, 182, -1.9669, 83.3479),
(2000, 1.5308, 2, 218, -2.2429, 105.9088),
(2000, 1.5308, 3, 201, 3.6023, 88.4594),
(2000, 1.5308, 4, 196, 2.8119, 89.4413),
(2000, 1.5308, 5, 189, -3.6312, 88.9379),
(2000, 1.5308, 6, 194, 2.3086, 90.5515),
(2000, 1.5308, 7, 211, -0.8886, 98.8576),
(2000, 1.5308, 8, 218, 0.6744, 98.2269),
(2000, 1.5308, 9, 192, -1.0145, 83.5885)
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(n_vectors AS BIGINT) AS n_vectors,
       CAST(sum_pc1 AS DOUBLE) AS sum_pc1,
       CAST(sum_abs AS DOUBLE) AS sum_abs
FROM g JOIN fp USING (n, s)
""")
def s18_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.pca import pca_project

    emb = _t(spark, sf_dir, "embeddings")
    return (pca_project(emb, k=4)
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.round(F.sum(F.col("pca")[0]), 4).alias("sum_pc1"),
                 F.round(F.sum(F.aggregate(
                     "pca", F.lit(0.0), lambda a, x: a + F.abs(x))), 4)
                 .alias("sum_abs")))


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit over the corpus head (text.zipf_fit): the
# vocabulary collapses via one groupBy, a distributed TakeOrdered keeps
# the top-1000, and the regression is the native regr_* aggregates —
# the only global window runs over <= 1000 rows. Both engines share the
# same OLS closed forms, so the oracle is plain SQL.
# ---------------------------------------------------------------------------
@q("d44_zipf_fit", """
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
counts AS (SELECT w, count(*) AS c FROM toks WHERE w <> '' GROUP BY w),
head AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r
  FROM counts ORDER BY c DESC, w ASC LIMIT 1000
)
SELECT CAST(count(*) AS BIGINT) AS n_fit,
       round(regr_slope(ln(c), ln(r)), 6) AS slope,
       round(regr_intercept(ln(c), ln(r)), 6) AS intercept,
       round(regr_r2(ln(c), ln(r)), 6) AS r2
FROM head
""")
def d44_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# MMR diversified retrieval (similarity.mmr_topk, Carbonell & Goldstein
# 1998): distributed exact-cosine shortlist (broadcast query,
# TakeOrdered) + bounded greedy selection over <= 100 candidates
# (per-query kernel, pq_adc_topk's collect contract). Iterative greedy
# is not SQL-expressible, so the oracle is a fingerprint-dispatched
# golden; the selection itself is replay-pinned (same rounding and
# min-id tiebreaks) in tests/test_pipeline.py.
# ---------------------------------------------------------------------------
@q("s19_mmr_topk", """
WITH fp AS (
  SELECT count(*) AS n, round(sum(embedding[1])::DOUBLE, 4) AS s
  FROM embeddings
),
g(n, s, rank, vec_id, cos, mmr) AS (VALUES
(500, -1.464, 1, 0, 1.0, 0.7),
(500, -1.464, 2, 17, 0.334456, 0.133782),
(500, -1.464, 3, 225, 0.315127, 0.126051),
(500, -1.464, 4, 12, 0.311027, 0.124411),
(500, -1.464, 5, 483, 0.300451, 0.12018),
(500, -1.464, 6, 260, 0.298669, 0.119468),
(500, -1.464, 7, 73, 0.297238, 0.118895),
(500, -1.464, 8, 347, 0.274508, 0.109803),
(500, -1.464, 9, 402, 0.2745, 0.1098),
(500, -1.464, 10, 299, 0.268713, 0.107485),
(500, 1.0824, 1, 0, 1.0, 0.7),
(500, 1.0824, 2, 365, 0.369994, 0.147998),
(500, 1.0824, 3, 334, 0.362722, 0.145089),
(500, 1.0824, 4, 387, 0.331139, 0.132456),
(500, 1.0824, 5, 423, 0.296934, 0.118774),
(500, 1.0824, 6, 73, 0.295434, 0.118174),
(500, 1.0824, 7, 320, 0.287861, 0.115144),
(500, 1.0824, 8, 464, 0.276628, 0.110651),
(500, 1.0824, 9, 190, 0.281795, 0.104891),
(500, 1.0824, 10, 483, 0.2567, 0.10268),
(2000, 1.5308, 1, 0, 1.0, 0.7),
(2000, 1.5308, 2, 1204, 0.406472, 0.162589),
(2000, 1.5308, 3, 291, 0.391932, 0.156773),
(2000, 1.5308, 4, 1020, 0.375988, 0.150395),
(2000, 1.5308, 5, 510, 0.344458, 0.137783),
(2000, 1.5308, 6, 1511, 0.328782, 0.131513),
(2000, 1.5308, 7, 144, 0.324319, 0.129728),
(2000, 1.5308, 8, 1407, 0.319136, 0.127654),
(2000, 1.5308, 9, 142, 0.311258, 0.124503),
(2000, 1.5308, 10, 794, 0.310833, 0.124333)
)
SELECT CAST(rank AS INTEGER) AS rank, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cos AS DOUBLE) AS cos, CAST(mmr AS DOUBLE) AS mmr
FROM g JOIN fp USING (n, s)
""")
def s19_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.similarity import (mmr_topk,
                                                          query_vector)

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_topk(emb, query_vector(emb, 0), k=10, shortlist=100,
                    lam=0.7)


# ---------------------------------------------------------------------------
# Hard-negative mining (similarity.hard_negatives): for 20 anchor
# vectors, the top-5 most-similar DIFFERENT-label corpus vectors —
# knn_join with a map-side label-mismatch pair_filter (anchors
# broadcast, corpus never shuffles, two-phase top-k). Brute-force SQL
# oracle over the same rounded cosine + id tiebreaks.
# ---------------------------------------------------------------------------
@q("s20_hard_negatives", """
WITH a AS (
  SELECT vec_id AS q_id, embedding AS q, label AS a_label
  FROM embeddings WHERE vec_id < 20
),
sc AS (
  SELECT a.q_id, a.a_label, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[],
                                      a.q::DOUBLE[]), 6) AS cos
  FROM embeddings e, a
  WHERE e.vec_id <> a.q_id AND e.label <> a.a_label
),
r AS (
  SELECT q_id, a_label, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM sc
)
SELECT q_id, a_label, vec_id, cos, rank FROM r WHERE rank <= 5
""")
def s20_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 20)
    return hard_negatives(emb, anchors, k=5)


# ---------------------------------------------------------------------------
# Temperature-based source mixing (text.temperature_mix, the mT5
# recipe): one aggregation to per-source token counts (a dimension,
# driver-side like a codebook), rates broadcast back, md5-hash keeps
# map-side. Rates rounded to 6 so Python/JVM/DuckDB pow parity holds.
# ---------------------------------------------------------------------------
@q("d45_temperature_mix", """
WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
           FROM documents),
c AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_s FROM d GROUP BY 1),
t AS (SELECT sum(pow(n_s, 0.3)) AS tot FROM c),
r AS (SELECT source,
             round(least(1.0, 20000 * pow(n_s, 0.3) / tot / n_s), 6)
               AS rate
      FROM c, t),
k AS (
  SELECT d.source, rate, n_tok,
         ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS UBIGINT) + 0.5) / 4294967296.0) < rate AS keep
  FROM d JOIN r USING (source)
)
SELECT source, rate,
       CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(n_tok) FILTER (keep), 0) AS BIGINT)
         AS tokens_kept
FROM k GROUP BY 1, 2
""")
def d45_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mix(docs, budget_tokens=20000, alpha=0.3)
    return (out.groupBy("source", "rate")
            .agg(F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
                 F.coalesce(F.sum(F.when(F.col("keep"),
                                         F.col("n_tokens"))),
                            F.lit(0)).cast("long").alias("tokens_kept")))


# ---------------------------------------------------------------------------
# Tar-shard export round-trip (sources/shards.py): write the documents
# table as 4 WebDataset-style tar shards (deterministic md5 shard
# assignment, canonical tar bytes), read them back distributed
# (binaryFile + tar walk), and aggregate per shard. The oracle computes
# the same per-shard totals straight from the table — any loss or
# corruption in the write->read chain breaks the hash match. ASCII
# corpus, so char length == utf-8 byte length on both sides.
# ---------------------------------------------------------------------------
@q("m23_tar_shard_roundtrip", """
SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
            AS UBIGINT) % 4 AS INTEGER) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM documents GROUP BY 1
""")
def m23_tar_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ecmm428_pycart_spark.sources.shards import (read_tar_shards,
                                                     write_tar_shards)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = tempfile.mkdtemp(prefix="m23_shards_")
    write_tar_shards(docs, out, n_shards=4)
    back = read_tar_shards(spark, out)
    agg = (back.groupBy("shard")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length(F.col("data").cast("string")))
                .alias("n_chars")))
    return _collect_then_cleanup(agg, out)


# ---------------------------------------------------------------------------
# Leakage-safe train/test split (text.leakage_safe_split): split
# decision hashes the order-insensitive content fingerprint, so
# duplicate documents can never straddle the boundary. Map-side only —
# no shuffle, no RNG; the oracle replays the same md5 arithmetic.
# ---------------------------------------------------------------------------
@q("d46_leakage_safe_split", """
WITH keyed AS (
  SELECT source,
         md5(array_to_string(list_sort(list_distinct(
             string_split(text, ' '))), ' ')) AS fp,
         CASE WHEN ((CAST(concat('0x', substr(md5(md5(array_to_string(
                    list_sort(list_distinct(string_split(text, ' '))),
                    ' '))), 1, 8)) AS UBIGINT) + 0.5) / 4294967296.0)
                   < 0.2
              THEN 'test' ELSE 'train' END AS split
  FROM documents
)
SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct
FROM keyed GROUP BY 1, 2
""")
def d46_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import (fingerprint,
                                                    leakage_safe_split)

    docs = _t(spark, sf_dir, "documents")
    out = leakage_safe_split(docs, test_frac=0.2)
    return (out.groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct(fingerprint(F.col("text")))
                 .alias("n_distinct")))


# ---------------------------------------------------------------------------
# Cross-source contamination matrix (dedup.source_contamination): one
# explode+distinct to (source, 3-gram), self-join on the shingle key
# (fan-out bounded by C(sources, 2) — sources are a dimension), then
# containment vs the smaller side. Plain SQL oracle.
# ---------------------------------------------------------------------------
@q("d47_source_contamination", """
WITH t AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT source,
         ws[i.i] || ' ' || ws[i.i+1] || ' ' || ws[i.i+2] AS g
  FROM t, unnest(range(1, len(ws) - 1)) AS i(i)
  WHERE len(ws) >= 3
),
tot AS (SELECT source, count(*) AS n_shingles FROM sh GROUP BY 1),
ov AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
       round(n_shared / least(ta.n_shingles, tb.n_shingles), 6)
         AS containment
FROM ov
JOIN tot ta ON ta.source = src_a
JOIN tot tb ON tb.source = src_b
WHERE n_shared >= 10
""")
def d47_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.dedup import source_contamination

    return source_contamination(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Distributed BPE learn-then-encode (text.learn_bpe_merges +
# text.bpe_encode): 12 merges learned on the corpus vocabulary, applied
# to every document, reduced to corpus totals. The merge/encode chain
# is not SQL-expressible; the oracle is a golden dispatched on the
# (count, total chars) documents fingerprint (sf0.001 and sf0.01 both
# have 500 docs, so count alone cannot disambiguate). Regenerate via
# tools/gen_goldens.py; the kernel is Sennrich-replay-pinned in
# tests/test_pipeline.py.
# ---------------------------------------------------------------------------
@q("d42_bpe_encode", """
WITH fp AS (
  SELECT count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS ch
  FROM documents
),
g(n, ch, total_subtokens, n_distinct_symbols) AS (VALUES
(500, 153156, 119825, 34),
(500, 149174, 116798, 35),
(5000, 1485576, 1165005, 35)
)
SELECT CAST(n AS BIGINT) AS n_docs, CAST(ch AS BIGINT) AS total_chars,
       CAST(total_subtokens AS BIGINT) AS total_subtokens,
       CAST(n_distinct_symbols AS BIGINT) AS n_distinct_symbols
FROM g JOIN fp USING (n, ch)
""")
def d42_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import (bpe_encode,
                                                    learn_bpe_merges)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges, _ = learn_bpe_merges(docs, n_merges=12)
    enc = bpe_encode(docs, merges)
    stats = enc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_subtokens").alias("total_subtokens"))
    nsym = (enc.select(F.explode("tokens").alias("t"))
            .agg(F.countDistinct("t").alias("n_distinct_symbols")))
    chars = _t(spark, sf_dir, "documents").agg(
        F.sum(F.length("text")).alias("total_chars"))
    return (stats.join(F.broadcast(chars)).join(F.broadcast(nsym))
            .select("n_docs", "total_chars", "total_subtokens",
                    "n_distinct_symbols"))


# ---------------------------------------------------------------------------
# Funnel analysis (datapipe/funnel.py): ordered view->click->purchase
# completion over the events table's first 4 days — one shuffle to
# per-user sorted event arrays, a native fold advances the
# (matched, last_ts) accumulator, then a tiny depth histogram. The
# oracle is the per-step min-ts CTE chain (identical earliest-match
# semantics; strict ts ordering makes same-timestamp order moot).
# ---------------------------------------------------------------------------
@q("q90_funnel_steps", """
WITH ev AS (SELECT * FROM events
            -- ts IS NOT NULL: explicit null-ts contract shared with
            -- the Spark fold (the < filter already excludes NULLs,
            -- but a future filter edit must not silently re-admit
            -- null-ts rows into s1's min() groups)
            WHERE ts < TIMESTAMP '2024-01-05 00:00:00'
              AND ts IS NOT NULL),
s1 AS (SELECT user_id, min(ts) AS t FROM ev
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t
       FROM ev e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t
       FROM ev e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
SELECT 1 AS step_idx, 'view' AS step,
       CAST(count(*) AS BIGINT) AS n_users FROM s1
UNION ALL
SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
""")
def q90_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.funnel import funnel

    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("ts")
                  < F.lit("2024-01-05 00:00:00").cast("timestamp")))
    return funnel(ev, ["view", "click", "purchase"])


# ---------------------------------------------------------------------------
# RFM segmentation (funnel.rfm_segments): per-user recency/frequency/
# monetary + quartile scores, aggregated to the segment grid. Scoring
# is percentile-cut classification (VERDICT r4 #6 — the ntile global
# window is gone): one 1-row quantile aggregate over the reduced user
# table, broadcast back, map-side bucket = 1 + cuts-strictly-below on
# the per-dimension badness key (ties share a bucket). Anchor "now" =
# corpus max ts, 1-row broadcast. Cuts are 6-rounded on both engines
# so the bucket edges are engine-stable.
# ---------------------------------------------------------------------------
@q("q91_rfm_segments", """
WITH anchor AS (SELECT max(ts) AS mx FROM events),
rfm AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(max(ts) AS DATE),
                        CAST(mx AS DATE)) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         round(sum(CASE WHEN event_type = 'purchase' THEN value
                        ELSE 0 END), 2) AS monetary
  FROM events, anchor GROUP BY user_id, mx
),
cuts AS (
  SELECT round(quantile_cont(recency_days, 0.25), 6) AS r0,
         round(quantile_cont(recency_days, 0.50), 6) AS r1,
         round(quantile_cont(recency_days, 0.75), 6) AS r2,
         round(quantile_cont(-frequency, 0.25), 6) AS f0,
         round(quantile_cont(-frequency, 0.50), 6) AS f1,
         round(quantile_cont(-frequency, 0.75), 6) AS f2,
         round(quantile_cont(-monetary, 0.25), 6) AS m0,
         round(quantile_cont(-monetary, 0.50), 6) AS m1,
         round(quantile_cont(-monetary, 0.75), 6) AS m2
  FROM rfm
),
scored AS (
  SELECT rfm.*,
         1 + (recency_days > r0)::INT + (recency_days > r1)::INT
           + (recency_days > r2)::INT AS r,
         1 + (-frequency > f0)::INT + (-frequency > f1)::INT
           + (-frequency > f2)::INT AS f,
         1 + (-monetary > m0)::INT + (-monetary > m1)::INT
           + (-monetary > m2)::INT AS m
  FROM rfm, cuts
)
SELECT CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f,
       CAST(m AS INTEGER) AS m, CAST(count(*) AS BIGINT) AS n_users,
       round(avg(monetary), 4) AS avg_monetary
FROM scored GROUP BY 1, 2, 3
""")
def q91_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.funnel import rfm_segments

    out = rfm_segments(_t(spark, sf_dir, "events"))
    return (out.groupBy("r", "f", "m")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.avg("monetary"), 4).alias("avg_monetary")))


# ---------------------------------------------------------------------------
# XML source/sink roundtrip (sources/sinks.py write_xml/read_xml —
# Spark 4 native spark-xml): write the customer table as XML, read it
# back WITH an explicit schema (no inference scan), aggregate per
# nation/segment. The oracle computes the same aggregate straight from
# the table, so any element loss or type corruption in the XML chain
# breaks the hash match.
# ---------------------------------------------------------------------------
@q("q92_xml_roundtrip", """
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer GROUP BY 1, 2
""")
def q92_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ecmm428_pycart_spark.sources.sinks import read_xml, write_xml

    cust = _t(spark, sf_dir, "customer")
    path = tempfile.mkdtemp(prefix="q92_xml_")
    write_xml(cust, path, row_tag="customer")
    back = read_xml(spark, path, row_tag="customer",
                    schema=cust.schema)
    agg = (back.groupBy("c_nationkey", "c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("c_acctbal"), 2).alias("total_bal")))
    return _collect_then_cleanup(agg, path)


# ---------------------------------------------------------------------------
# Rolling engagement (funnel.rolling_active_users): DAU / trailing-7d
# WAU / stickiness per day. The (day, user) distinct reduction explodes
# into its 7 trailing window memberships MAP-SIDE (constant fan-out —
# no day-range join, no BNLJ), then one count-distinct per window day.
# ---------------------------------------------------------------------------
@q("q93_rolling_actives", """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events),
days AS (SELECT DISTINCT day FROM du),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
wau AS (
  SELECT d.day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
  FROM days d JOIN du ON du.day BETWEEN d.day - 6 AND d.day
  GROUP BY 1
)
SELECT dau.day, dau, wau, round(dau / wau, 6) AS stickiness
FROM dau JOIN wau USING (day)
""")
def q93_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.funnel import rolling_active_users

    return rolling_active_users(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Funnel time-to-convert (funnel.funnel_conversion_stats): same
# single-pass fold as q90 with a first-match timestamp in the
# accumulator; completers reduce to (n, avg/min/max seconds). Oracle:
# the min-ts CTE chain's s1->s3 difference (greedy matching provably
# yields the same earliest completion times).
# ---------------------------------------------------------------------------
@q("q94_funnel_latency", """
WITH ev AS (SELECT * FROM events
            -- ts IS NOT NULL: explicit null-ts contract shared with
            -- the Spark fold (the < filter already excludes NULLs,
            -- but a future filter edit must not silently re-admit
            -- null-ts rows into s1's min() groups)
            WHERE ts < TIMESTAMP '2024-01-05 00:00:00'
              AND ts IS NOT NULL),
s1 AS (SELECT user_id, min(ts) AS t FROM ev
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t
       FROM ev e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t
       FROM ev e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
conv AS (
  SELECT CAST(date_diff('second', s1.t, s3.t) AS BIGINT) AS seconds
  FROM s3 JOIN s1 USING (user_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(avg(seconds), 2) AS avg_seconds,
       min(seconds) AS min_seconds, max(seconds) AS max_seconds
FROM conv
""")
def q94_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.funnel import funnel_conversion_stats

    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("ts")
                  < F.lit("2024-01-05 00:00:00").cast("timestamp")))
    return funnel_conversion_stats(ev, ["view", "click", "purchase"])


# ---------------------------------------------------------------------------
# STREAMING funnel (streaming.events.funnel_stream): the q90 semantics
# executed through Structured Streaming — per-user (matched, last_ts)
# state in applyInPandasWithState, update-mode depth emissions over a
# 4-slice time-ordered replay (cross-batch state exercised), final
# counts from the monotone per-user max depth. Shares q90's min-ts
# CTE-chain oracle: the streaming path must land on EXACTLY the batch
# answer.
# ---------------------------------------------------------------------------
@q("st15_stream_funnel", """
WITH ev AS (SELECT * FROM events
            -- ts IS NOT NULL: explicit null-ts contract shared with
            -- the Spark fold (the < filter already excludes NULLs,
            -- but a future filter edit must not silently re-admit
            -- null-ts rows into s1's min() groups)
            WHERE ts < TIMESTAMP '2024-01-05 00:00:00'
              AND ts IS NOT NULL),
s1 AS (SELECT user_id, min(ts) AS t FROM ev
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t
       FROM ev e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t
       FROM ev e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
SELECT 1 AS step_idx, 'view' AS step,
       CAST(count(*) AS BIGINT) AS n_users FROM s1
UNION ALL
SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
""")
def st15_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from pyspark.sql import Window as _W

    from ecmm428_pycart_spark.streaming.events import (
        funnel_stream, read_events_stream, write_time_ordered_stream_dir)

    steps = ["view", "click", "purchase"]
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("ts")
                  < F.lit("2024-01-05 00:00:00").cast("timestamp")))
    ranked = ev.withColumn(
        "_b", F.ntile(4).over(_W.orderBy("ts", "event_id")))         .localCheckpoint(eager=True)
    slices = [ranked.filter(F.col("_b") == i).drop("_b")
              for i in range(1, 5)]
    d = tempfile.mkdtemp(prefix="st15_events_")
    write_time_ordered_stream_dir(slices, d)

    stream = (read_events_stream(spark, d, max_files_per_trigger=1)
              .filter(F.col("event_type").isin(steps))
              .select("user_id", "ts", "event_id", "event_type"))
    name = f"st15_{uuid.uuid4().hex[:8]}"
    from ecmm428_pycart_spark.benchmarks.relational import _await_stream
    _await_stream(spark, funnel_stream(stream, steps).writeStream
                  .format("memory").queryName(name)
                  .outputMode("update").trigger(availableNow=True))
    from ecmm428_pycart_spark.datapipe.funnel import step_counts

    depth = (spark.table(name).groupBy("user_id")
             .agg(F.max("depth").alias("depth")))
    out = _collect_then_cleanup(step_counts(depth, steps), d)
    spark.catalog.dropTempView(name)
    return out


# ---------------------------------------------------------------------------
# FLAGSHIP composition — the full training-data curation chain in one
# DataFrame program: exact dedup (keep canonical) -> bigram-LM tercile
# triage (drop tail + unscored) -> temperature-sampled source mixing
# (budget 12k tokens) -> leakage-safe train/test split -> per-split
# corpus accounting. Every stage is an already-oracle-validated
# library op (d01/d43/d45/d46 semantics); the oracle chains their SQL
# forms, so a semantic drift in ANY stage breaks the hash match.
# ---------------------------------------------------------------------------
@q("q95_curation_pipeline", """
WITH canon AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
corpus AS (
  SELECT d.* FROM documents d JOIN canon USING (doc_id)
),
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
bg AS (
  SELECT doc_id, ws[i.i] AS w1, ws[i.i + 1] AS w2
  FROM t, unnest(range(1, len(ws))) AS i(i) WHERE len(ws) >= 2
),
uni AS (SELECT w, count(*) AS cu
        FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
tot AS (SELECT sum(cu) AS total FROM uni),
bgc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, sum(cb) AS cc FROM bgc GROUP BY 1),
scored AS (
  SELECT bg.doc_id,
         round(avg(ln(CASE WHEN bgc.cb IS NOT NULL
                           THEN bgc.cb::DOUBLE / ctx.cc
                           ELSE 0.4 * uni.cu::DOUBLE / tot.total END)), 6)
           AS lm
  FROM bg LEFT JOIN bgc USING (w1, w2) LEFT JOIN ctx USING (w1)
  LEFT JOIN uni ON uni.w = bg.w2 CROSS JOIN tot GROUP BY bg.doc_id
),
lm_docs AS (SELECT t.doc_id, scored.lm
            FROM t LEFT JOIN scored USING (doc_id)),
thr AS (SELECT quantile_cont(lm, 1.0/3) AS t_lo,
               quantile_cont(lm, 2.0/3) AS t_hi FROM lm_docs),
triaged AS (
  SELECT doc_id FROM lm_docs, thr
  WHERE lm IS NOT NULL AND lm >= t_lo
),
kept1 AS (SELECT c.* FROM corpus c JOIN triaged USING (doc_id)),
dtok AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
         FROM kept1),
c2 AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_s
       FROM dtok GROUP BY 1),
t2 AS (SELECT sum(pow(n_s, 0.3)) AS tt FROM c2),
r2 AS (SELECT source,
              round(least(1.0, 12000 * pow(n_s, 0.3) / tt / n_s), 6)
                AS rate FROM c2, t2),
mixed AS (
  SELECT dtok.doc_id, dtok.source, dtok.n_tok
  FROM dtok JOIN r2 USING (source)
  WHERE ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
          AS UBIGINT) + 0.5) / 4294967296.0) < rate
),
final AS (
  SELECT m.source, m.n_tok,
         CASE WHEN ((CAST(concat('0x', substr(md5(md5(array_to_string(
                    list_sort(list_distinct(string_split(k.text, ' '))),
                    ' '))), 1, 8)) AS UBIGINT) + 0.5) / 4294967296.0)
                   < 0.1
              THEN 'test' ELSE 'train' END AS split
  FROM mixed m JOIN kept1 k USING (doc_id)
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM final GROUP BY split
""")
def q95_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.dedup import exact_dup_groups
    from ecmm428_pycart_spark.datapipe.text import (leakage_safe_split,
                                                    perplexity_buckets,
                                                    temperature_mix)

    docs = _t(spark, sf_dir, "documents")
    canon = (exact_dup_groups(docs)
             .select(F.col("canonical_id").alias("doc_id")))
    # the deduped corpus feeds three downstream branches (LM scoring,
    # the triage semi-join, the mixing/split chain) — materialize it
    # once so the dedup aggregation doesn't re-run per branch
    corpus = (docs.join(canon, "doc_id", "left_semi")
              .localCheckpoint(eager=True))
    # the LM count tables over the deduped corpus come from the
    # write-once lm_store (variant documents_dedup — the store derives
    # the same exact-dedup survivors)
    from ecmm428_pycart_spark.datapipe import lm_store
    keep = (perplexity_buckets(corpus, counts=lm_store.count_tables(
                spark, sf_dir, "documents_dedup"))
            .filter(F.col("bucket").isin("middle", "head"))
            .select("doc_id"))
    kept1 = corpus.join(keep, "doc_id", "left_semi")
    mixed = temperature_mix(kept1, budget_tokens=12000).filter("keep")
    final = leakage_safe_split(mixed, test_frac=0.1)
    return (final.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.countDistinct("source").alias("n_sources")))


# ---------------------------------------------------------------------------
# UNPIVOT / melt (the inverse of q68's pivot): wide per-nation measure
# columns back to long (nation, measure, value) rows via the native
# df.unpivot — one narrow map-side transform after the aggregate, no
# shuffle of its own. Measures are exact integer units (qty, discount
# and tax in basis points) so both engines hash identically.
# ---------------------------------------------------------------------------
@q("q96_unpivot_measures", """
WITH wide AS (
  SELECT n_name,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
           AS total_qty,
         CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT)
           AS total_disc_bp,
         CAST(sum(CAST(round(l_tax * 10000) AS BIGINT)) AS BIGINT)
           AS total_tax_bp
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  GROUP BY n_name
)
SELECT n_name, measure, value FROM wide
UNPIVOT (value FOR measure IN (total_qty, total_disc_bp, total_tax_bp))
""")
def q96_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp_nation = (_t(spark, sf_dir, "supplier")
                   .join(F.broadcast(_t(spark, sf_dir, "nation")),
                         F.col("n_nationkey") == F.col("s_nationkey"))
                   .select("s_suppkey", "n_name"))
    wide = (_t(spark, sf_dir, "lineitem")
            .join(F.broadcast(supp_nation),
                  F.col("s_suppkey") == F.col("l_suppkey"))
            .groupBy("n_name")
            .agg(F.sum(F.round("l_quantity").cast("long"))
                 .alias("total_qty"),
                 F.sum(F.round(F.col("l_discount") * 10000).cast("long"))
                 .alias("total_disc_bp"),
                 F.sum(F.round(F.col("l_tax") * 10000).cast("long"))
                 .alias("total_tax_bp")))
    return wide.unpivot(
        ["n_name"], ["total_qty", "total_disc_bp", "total_tax_bp"],
        "measure", "value")


BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
        "10GB",
    "spark.sql.optimizer.runtime.bloomFilter"
    ".applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


# ---------------------------------------------------------------------------
# Runtime Bloom-filter join (Catalyst runtime filters): a selective
# orders-side predicate injects a bloom_filter aggregate on the build
# side and a might_contain pre-filter into the LINEITEM scan side of
# the sort-merge join — the row-group-skipping shape that matters when
# neither side broadcasts at 100 TB. The query pins the configs that
# make injection deterministic at test scale (forced SMJ, zeroed scan
# threshold) and restores them; results are strategy-independent, so
# the oracle is the plain join SQL. Plan injection is asserted by
# test_queued_queries.test_q97_bloom_filter_injected.
# ---------------------------------------------------------------------------
@q("q97_runtime_bloom_join", """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS BIGINT) / 100.0, 2) AS total_price
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
""")
def q97_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.session import pinned_confs

    with pinned_confs(spark, BLOOM_CONFS):
        urgent = (_t(spark, sf_dir, "orders")
                  .filter(F.col("o_orderpriority") == "1-URGENT")
                  .select("o_orderkey", "o_orderpriority"))
        li = (_t(spark, sf_dir, "lineitem")
              .select("l_orderkey",
                      F.round(F.col("l_extendedprice") * 100)
                      .cast("long").alias("cents")))
        out = (li.join(urgent, F.col("o_orderkey") == F.col("l_orderkey"))
               .groupBy("o_orderpriority")
               .agg(F.count(F.lit(1)).alias("n_lines"),
                    F.round(F.sum("cents") / 100.0, 2)
                    .alias("total_price")))
        # SELF-CHECK then execute while the configs are pinned: a
        # checkpoint alone would silently hide a lost injection from
        # every downstream plan inspection; failing loudly here makes
        # the gate itself the regression guard
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        if "might_contain" not in plan:
            raise RuntimeError(
                "runtime Bloom filter was NOT injected under the "
                "pinned configs — q97's premise regressed")
        out = out.localCheckpoint(eager=True)
    return out


# ---------------------------------------------------------------------------
# Bucketed batch k-NN (similarity.ann_knn_join): every query in a
# 10-vector batch scores ONLY its 8-bit sign-LSH bucket — ~n/256 rows
# scanned per query instead of n — then the same two-phase top-k as
# the exact knn_join. The oracle replays the sign-bit bucketing in
# SQL, so the approximation itself (not just the arithmetic) is
# hash-checked.
# ---------------------------------------------------------------------------
@q("s21_ann_knn_join", """WITH corpus AS (
  SELECT vec_id, embedding, (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket FROM embeddings
),
qs AS (
  SELECT vec_id AS q_id, embedding AS q FROM embeddings
  WHERE vec_id < 10
),
qb AS (SELECT q_id, q, (CASE WHEN q[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN q[2] > 0 THEN 2 ELSE 0 END) + (CASE WHEN q[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN q[4] > 0 THEN 8 ELSE 0 END) + (CASE WHEN q[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN q[6] > 0 THEN 32 ELSE 0 END) + (CASE WHEN q[7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN q[8] > 0 THEN 128 ELSE 0 END) AS bucket
       FROM qs),
sc AS (
  SELECT qb.q_id, c.vec_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[],
                                      qb.q::DOUBLE[]), 6) AS cos
  FROM corpus c JOIN qb USING (bucket)
  WHERE c.vec_id <> qb.q_id
),
r AS (
  SELECT q_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM sc
)
SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= 5
""")
def s21_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.similarity import ann_knn_join

    emb = _t(spark, sf_dir, "embeddings")
    qs = (emb.filter(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q")))
    return ann_knn_join(emb, qs, k=5)


# ---------------------------------------------------------------------------
# Reference-corpus LM scoring with the backoff UNDER the oracle
# (text.bigram_lm_score(ref=..., with_backoff_count=True)): even-id
# docs train the counts, odd-id docs are scored — unseen bigrams take
# the Stupid Backoff path and n_backoff PROVES the branch fires (it is
# > 0 for several docs at every sf); strict-OOV positions drop out of
# the average on both engines.
# ---------------------------------------------------------------------------
@q("d48_lm_reference_scoring", """WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
tst AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM tst),
bg AS (
  SELECT doc_id, ws[i.i] AS w1, ws[i.i + 1] AS w2
  FROM t, unnest(range(1, len(ws))) AS i(i)
  WHERE len(ws) >= 2
),
rt AS (SELECT string_split(text, ' ') AS ws FROM ref),
uni AS (SELECT w, count(*) AS cu
        FROM (SELECT unnest(ws) AS w FROM rt) GROUP BY w),
tot AS (SELECT sum(cu) AS total FROM uni),
bgc AS (
  SELECT ws[i.i] AS w1, ws[i.i + 1] AS w2, count(*) AS cb
  FROM rt, unnest(range(1, len(ws))) AS i(i)
  WHERE len(ws) >= 2 GROUP BY 1, 2
),
ctx AS (SELECT w1, sum(cb) AS cc FROM bgc GROUP BY 1),
pos AS (
  SELECT bg.doc_id,
         CASE WHEN bgc.cb IS NOT NULL THEN ln(bgc.cb::DOUBLE / ctx.cc)
              WHEN uni.cu IS NOT NULL
                THEN ln(0.4 * uni.cu::DOUBLE / tot.total)
              ELSE NULL END AS lp,
         CASE WHEN bgc.cb IS NULL AND uni.cu IS NOT NULL
              THEN 1 ELSE 0 END AS backoff
  FROM bg
  LEFT JOIN bgc USING (w1, w2)
  LEFT JOIN ctx USING (w1)
  LEFT JOIN uni ON uni.w = bg.w2
  CROSS JOIN tot
),
scored AS (
  SELECT doc_id, round(avg(lp), 6) AS lm_bigram,
         CAST(sum(backoff) AS BIGINT) AS n_backoff
  FROM pos GROUP BY doc_id
)
SELECT t.doc_id, scored.lm_bigram, coalesce(scored.n_backoff, 0) AS n_backoff
FROM t LEFT JOIN scored USING (doc_id)
""")
def d48_lm_reference_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import bigram_lm_score

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    tst = docs.filter(F.col("doc_id") % 2 == 1)
    return bigram_lm_score(tst, ref=ref, with_backoff_count=True)


# ---------------------------------------------------------------------------
# Event-type transition matrix (the first-order Markov view of user
# journeys): lag() over (user, event-time) — the window partitions on
# the user key, so state per partition is one row and the shuffle is
# the same per-user repartition every sessionization already pays.
# Deterministic under ts ties via the event_id tiebreak.
# ---------------------------------------------------------------------------
@q("q98_event_transitions", """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT prev AS from_type, event_type AS to_type,
       CAST(count(*) AS BIGINT) AS n
FROM seq WHERE prev IS NOT NULL
GROUP BY 1, 2
""")
def q98_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (_t(spark, sf_dir, "events")
           .select("user_id", "event_type",
                   F.lag("event_type").over(w).alias("prev")))
    return (seq.filter(F.col("prev").isNotNull())
            .groupBy(F.col("prev").alias("from_type"),
                     F.col("event_type").alias("to_type"))
            .agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# WAV 2x linear-resample stats (multimodal.wav_resample2_stats over
# the square-wave fixture): the sample-rate-normalization kernel with
# a fully closed-form oracle — interpolated midpoints at the square
# wave's edges are EXACT zeros, so n_zero = 2*cycles - 1 and
# sum_abs = amp * (128 - 2*cycles), straight arithmetic on doc_id.
# ---------------------------------------------------------------------------
@q("m24_wav_resample", """
WITH base AS (
  SELECT doc_id,
         CAST(doc_id % 100 + 1 AS DOUBLE) AS amp,
         CAST(power(2, doc_id % 5) AS BIGINT) AS c
  FROM documents
)
SELECT doc_id, 64 AS n_in, 127 AS n_out,
       CAST(2 * c - 1 AS INTEGER) AS n_zero,
       round(amp * (128 - 2 * c), 4) AS sum_abs
FROM base
""")
def m24_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.multimodal import (
        synth_wav_square_payload, wav_resample2_stats)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (docs
            .withColumn("_w", synth_wav_square_payload(F.col("doc_id")))
            .withColumn("_s", wav_resample2_stats(F.col("_w")))
            .select("doc_id", F.col("_s.n_in").alias("n_in"),
                    F.col("_s.n_out").alias("n_out"),
                    F.col("_s.n_zero").alias("n_zero"),
                    F.col("_s.sum_abs").alias("sum_abs")))


# ---------------------------------------------------------------------------
# Snapshot CDC diff (sources/snapshots.py): write version 1, apply
# q65's deterministic change rules, write version 2, then classify
# every key added/removed/changed/unchanged by full-outer-joining the
# two READ-BACK versions — the change-data-feed a lakehouse consumer
# derives between any two time-travel points. Oracle reconstructs
# both versions with the same arithmetic straight from the table, so
# a snapshot-store corruption or version mixup breaks the hash.
# ---------------------------------------------------------------------------
@q("q99_snapshot_diff", """
WITH v1 AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
v2 AS (
  SELECT k, CASE WHEN k % 3 = 0 THEN bal + 100.0 ELSE bal END AS bal
  FROM v1 WHERE k % 7 <> 0
  UNION ALL
  SELECT k + 1000000, 500.0 FROM v1 WHERE k % 5 = 0
),
j AS (
  SELECT coalesce(v1.k, v2.k) AS k, v1.bal AS b1, v2.bal AS b2
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
),
labeled AS (
  SELECT CASE WHEN b1 IS NULL THEN 'added'
              WHEN b2 IS NULL THEN 'removed'
              WHEN b1 <> b2 THEN 'changed'
              ELSE 'unchanged' END AS op,
         coalesce(b2, b1) AS bal
  FROM j
)
SELECT op, CAST(count(*) AS BIGINT) AS n,
       round(sum(bal), 2) AS total_bal
FROM labeled GROUP BY op
""")
def q99_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ecmm428_pycart_spark.sources.snapshots import (read_snapshot,
                                                        write_snapshot)

    base = tempfile.mkdtemp(prefix="q99_snap_")
    k = F.col("k")
    v1 = (_t(spark, sf_dir, "customer")
          .select(F.col("c_custkey").alias("k"),
                  F.col("c_acctbal").alias("bal")))
    write_snapshot(v1, base)
    v2 = (v1.filter(k % 7 != 0)
          .withColumn("bal", F.when(k % 3 == 0, F.col("bal") + 100.0)
                      .otherwise(F.col("bal")))
          .unionByName(v1.filter(k % 5 == 0)
                       .select((k + 1000000).alias("k"),
                               F.lit(500.0).alias("bal"))))
    write_snapshot(v2, base)
    a = read_snapshot(spark, base, version=1)         .select("k", F.col("bal").alias("b1"))
    b = read_snapshot(spark, base, version=2)         .select("k", F.col("bal").alias("b2"))
    j = a.join(b, "k", "full_outer")
    labeled = j.select(
        F.when(F.col("b1").isNull(), "added")
        .when(F.col("b2").isNull(), "removed")
        .when(F.col("b1") != F.col("b2"), "changed")
        .otherwise("unchanged").alias("op"),
        F.coalesce("b2", "b1").alias("bal"))
    agg = (labeled.groupBy("op")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("bal"), 2).alias("total_bal")))
    return _collect_then_cleanup(agg, base)


# ---------------------------------------------------------------------------
# ROUND-5 ADDITIONS (registered round 5, gated round 6 via the
# deferred list, same as the rest of this module).
# ---------------------------------------------------------------------------

# Gap-based sessionization (funnel.sessionize): 30-minute inactivity
# gap, per-user window (partitioned — no global sort), session id =
# running sum of new-session flags; reduced to per-user session stats.
# The oracle replays the identical lag + cumulative-sum windows;
# date_diff('second') and Spark's epoch-seconds cast share floor
# semantics, so the strict > 1800 s gap test is engine-identical.
@q("q100_sessionization", """
WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts,
         sum(ns) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, count(*) AS n,
         date_diff('second', min(ts), max(ts)) AS dur
  FROM sess GROUP BY 1, 2
)
SELECT user_id,
       CAST(max(session_id) AS BIGINT) AS n_sessions,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(max(n) AS BIGINT) AS max_session_events,
       round(avg(dur), 2) AS avg_session_seconds
FROM per_session GROUP BY user_id
""")
def q100_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.funnel import session_stats

    return session_stats(_t(spark, sf_dir, "events"), gap_minutes=30)


# Per-dimension z-score standardization of the embedding corpus
# (similarity.normalize_embeddings): one posexplode+groupBy(pos) stats
# pass, the d-row stats collapsed to broadcast arrays, normalization
# map-side over the un-exploded vectors. Stats round to 6 before use
# (bit-identical constants both engines); zvec reduces to per-vector
# scalars because array outputs don't gate.
@q("s22_embedding_normalize", """
WITH x AS (
  SELECT vec_id, i.i AS pos, embedding[i.i]::DOUBLE AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS i(i)
),
st AS (SELECT pos, round(avg(v), 6) AS m, round(stddev_pop(v), 6) AS s
       FROM x GROUP BY pos),
z AS (SELECT vec_id,
             CASE WHEN s = 0 THEN 0.0 ELSE (v - m) / s END AS z
      FROM x JOIN st USING (pos))
SELECT vec_id, round(sqrt(sum(z * z)), 4) AS z_l2,
       round(max(z), 4) + 0 AS z_max,
       round(min(z), 4) + 0 AS z_min
FROM z GROUP BY vec_id
""")
def s22_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.similarity import (
        normalize_embeddings)

    z = normalize_embeddings(_t(spark, sf_dir, "embeddings"))
    return z.select(
        "vec_id",
        F.round(F.sqrt(F.aggregate("zvec", F.lit(0.0),
                                   lambda a, v: a + v * v)), 4)
         .alias("z_l2"),
        (F.round(F.array_max("zvec"), 4) + F.lit(0.0)).alias("z_max"),
        (F.round(F.array_min("zvec"), 4) + F.lit(0.0)).alias("z_min"))


# ---------------------------------------------------------------------------
# Incremental ingestion dedup (dedup.save_band_index +
# incremental_dup_candidates): the even-doc_id half of the corpus
# persists its LSH band index to parquet (degenerate buckets capped at
# build); the odd half then dedups against the STORED index — corpus
# text is never re-read, the join is band-bucketed, and the scan
# prunes by band partition. The oracle reconstructs both sides' band
# keys from scratch in SQL (the d05/d06 minhash forms with parity
# filters) including the build-side bucket cap, so an index-write
# corruption, a cap drift, or a band-key mismatch all redden the hash.
# ---------------------------------------------------------------------------
def _d49_sql():
    from ecmm428_pycart_spark.benchmarks.datapipe_queries import (
        _MINHASH_AGGS_SQL)
    from ecmm428_pycart_spark.datapipe import dedup

    def sig(parity):
        return f"""
SELECT doc_id,
       {_MINHASH_AGGS_SQL}
FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS sh
      FROM documents WHERE doc_id % 2 = {parity})
GROUP BY doc_id
"""

    def bands(src):
        return "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {b} AS band, "
            f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band_key FROM {src}"
            for b in range(dedup.NUM_BANDS))

    return f"""
WITH sig_idx AS ({sig(0)}),
bands_idx0 AS (
{bands('sig_idx')}
),
bands_idx AS (
  SELECT doc_id AS existing_id, band, band_key FROM bands_idx0
  QUALIFY count(*) OVER (PARTITION BY band, band_key)
          <= {dedup.MAX_BUCKET_SIZE}
),
sig_new AS ({sig(1)}),
bands_new AS (
{bands('sig_new')}
),
cand AS (
  SELECT DISTINCT n.doc_id, i.existing_id
  FROM bands_new n JOIN bands_idx i USING (band, band_key)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(min(existing_id) AS BIGINT) AS min_existing
FROM cand GROUP BY doc_id
"""


@q("d49_incremental_dedup", _d49_sql())
def d49_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.dedup import (
        incremental_dup_candidates, save_band_index)
    from ecmm428_pycart_spark.session import scratch_dir

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx_path = scratch_dir("d49_bandidx_")
    save_band_index(docs.filter(F.col("doc_id") % 2 == 0), idx_path)
    cand = incremental_dup_candidates(
        docs.filter(F.col("doc_id") % 2 == 1), idx_path)
    agg = (cand.groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_candidates"),
                F.min("existing_id").alias("min_existing")))
    return _collect_then_cleanup(agg, idx_path)


# ---------------------------------------------------------------------------
# ANN index persistence (similarity.save_kmeans_index /
# load_kmeans_index / ivf_topk_from_index): train the IVF index once,
# persist assignments (partitioned by cluster) + centroids to parquet,
# and SERVE top-k from the loaded copy — the build-once/query-many
# separation every production ANN stack runs. Iterative k-means is
# SQL-inexpressible, so the oracle is a golden fingerprint-dispatched
# like k01; any save/load corruption changes the served rows and
# reddens the hash. Values regenerate via tools/gen_goldens.py.
# ---------------------------------------------------------------------------
@q("s17_index_persistence", """
WITH fp AS (
  SELECT count(*) AS n, round(sum(embedding[1])::DOUBLE, 4) AS s
  FROM embeddings
),
golden AS (
  SELECT * FROM (VALUES
    (500, -1.464, 0, 0, 1.0), (500, -1.464, 17, 0, 0.334456),
    (500, -1.464, 225, 0, 0.315127), (500, -1.464, 12, 0, 0.311027),
    (500, -1.464, 483, 0, 0.300451),
    (500, 1.0824, 0, 0, 1.0), (500, 1.0824, 365, 0, 0.369994),
    (500, 1.0824, 334, 0, 0.362722), (500, 1.0824, 387, 0, 0.331139),
    (500, 1.0824, 423, 0, 0.296934),
    (2000, 1.5308, 0, 0, 1.0), (2000, 1.5308, 1204, 0, 0.406472),
    (2000, 1.5308, 291, 0, 0.391932), (2000, 1.5308, 1020, 0, 0.375988),
    (2000, 1.5308, 510, 0, 0.344458)
  ) AS g(n, s, vec_id, cluster, cos)
)
SELECT vec_id::BIGINT AS vec_id, cluster::INTEGER AS cluster,
       cos::DOUBLE AS cos
FROM golden JOIN fp ON golden.n = fp.n AND golden.s::DOUBLE = fp.s
""")
def s17_index_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.kmeans import kmeans
    from ecmm428_pycart_spark.datapipe.similarity import (
        ivf_topk_from_index, load_kmeans_index, query_vector,
        save_kmeans_index)
    from ecmm428_pycart_spark.session import scratch_dir

    emb = _t(spark, sf_dir, "embeddings")
    assigned, cents = kmeans(emb, k=4, iterations=3)
    path = scratch_dir("s17_ivfidx_")
    save_kmeans_index(assigned, cents, path)
    a2, c2 = load_kmeans_index(spark, path)
    out = ivf_topk_from_index(emb, a2, c2, query_vector(emb, 0),
                              k=5, nprobe=1)
    return _collect_then_cleanup(out, path)
