"""Round-6 registration queue — the holding module for gate queries
built AFTER round 5's deferred budget filled (48 + 2 sentinels = the
whole 50-slot window). Same contract as round 4's queue
(benchmarks/queued.py, registered round 5): every entry carries its
DuckDB oracle beside it, tests/test_queued6_queries.py replays the
driver-gate compare on each at the chosen SPARK_GRAFT_TESTDATA scale,
and registration is mechanical once round 6's rotation empties the
deferred list.

Entries here must obey the same gate rules as registered queries:
scalar output columns only (the driver canonicalizer crashes on
array/struct/map), 1:1 oracle, deterministic tiebreaks, round-6
cross-engine float convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ecmm428_pycart_spark.session import load_table as _t

QUERIES = {}
ORACLES = {}


def q(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = sql
        return fn
    return deco


# ---------------------------------------------------------------------------
# Normalization-aware exact dedup (text.normalize_text): casefold +
# punctuation strip + whitespace collapse, then the d01-style per-source
# dup measurement on BOTH the raw and the canonical form — the curation
# step between raw exact-dedup and MinHash that catches "Same   Text!"
# vs "same text". All native expressions; the oracle replays the same
# regex pipeline (simple character classes, Java-regex/RE2-identical).
# ---------------------------------------------------------------------------
@q("d50_normalized_dedup", """
WITH n AS (
  SELECT source, text,
         trim(regexp_replace(regexp_replace(lower(text),
                                            '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_raw,
       CAST(count(DISTINCT md5(norm)) AS BIGINT) AS n_unique_norm
FROM n GROUP BY source
""")
def d50_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    return (docs.withColumn("norm", normalize_text(F.col("text")))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct(F.md5("text")).alias("n_unique_raw"),
                 F.countDistinct(F.md5("norm")).alias("n_unique_norm")))


# ---------------------------------------------------------------------------
# percentile_approx rank-error bound, PROVEN under the oracle: the repo
# repeatedly cites percentile_approx as the 100 TB path (RFM cuts,
# CCNet buckets both expose exact=False) — this query makes that claim
# gate-checkable. Spark computes each decile exactly AND via the
# sketch (accuracy=1000), then counts the sketch value's actual rank in
# one conditional-aggregate pass; within_bound asserts the rank error
# stays under n/100 + 1 (10x slack over the configured 1/1000
# guarantee, absorbing ties). The oracle recomputes the exact deciles
# (quantile_cont parity, the d43 convention) and pins every
# within_bound to TRUE — a sketch regression or a broken rank count
# reddens the hash. Plan: two passes over the single projected column
# + a 1-row broadcast; no window, no collect.
# ---------------------------------------------------------------------------
_Q101_FRACS = [i / 10 for i in range(1, 10)]


def _q101_sql():
    exacts = ",\n         ".join(
        f"round(quantile_cont(l_extendedprice, {p}), 4) AS e{i}"
        for i, p in enumerate(_Q101_FRACS, 1))
    rows = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS decile, e{i} AS exact_v, TRUE AS within_bound "
        f"FROM ex" for i in range(1, 10))
    return f"""
WITH ex AS (
  SELECT {exacts}
  FROM lineitem
)
{rows}
"""


@q("q101_approx_quantile_bounds", _q101_sql())
def q101_approx_quantile_bounds(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    li = (_t(spark, sf_dir, "lineitem")
          .select(F.col("l_extendedprice").cast("double").alias("v")))
    aggs = []
    for i, p in enumerate(_Q101_FRACS, 1):
        aggs.append(F.round(F.percentile("v", F.lit(p)), 4)
                    .alias(f"e{i}"))
        aggs.append(F.percentile_approx("v", F.lit(p), F.lit(1000))
                    .alias(f"a{i}"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    stats = li.agg(*aggs)
    ranked = (li.crossJoin(F.broadcast(stats))
              .agg(*[F.sum((F.col("v") <= F.col(f"a{i}")).cast("long"))
                     .alias(f"r{i}") for i in range(1, 10)],
                   F.first("n").alias("n"),
                   *[F.first(f"e{i}").alias(f"e{i}")
                     for i in range(1, 10)]))
    rows = F.array(*[
        F.struct(
            F.lit(i).alias("decile"),
            F.col(f"e{i}").alias("exact_v"),
            (F.abs(F.col(f"r{i}") - F.lit(p) * F.col("n"))
             <= F.col("n") / 100.0 + 1.0).alias("within_bound"))
        for i, p in enumerate(_Q101_FRACS, 1)])
    return (ranked.select(F.explode(rows).alias("_r"))
            .select("_r.decile", "_r.exact_v", "_r.within_bound"))


# ---------------------------------------------------------------------------
# Differential-privacy-style noisy release (seeded Laplace via the
# repo's md5-uniform RNG): per-source document counts + epsilon=1
# Laplace noise — the privacy face of releasing corpus statistics.
# REAL DP needs cryptographic randomness; the md5-seeded draw here is
# the DETERMINISTIC-replay variant that makes the mechanism itself
# (inverse-CDF transform, sensitivity-1 count release, post-processing
# rounding) oracle-checkable — swap the uniform source for secure
# randomness in production and the plan is unchanged. Laplace
# inverse-CDF: mu - b*sign(u-.5)*ln(1-2|u-.5|), b = sensitivity/eps =
# 1. ln is the libm-parity function both engines share (d37's
# convention); the md5 uniform is text.md5_uniform's ONE definition.
# ---------------------------------------------------------------------------
@q("d51_dp_release", """
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
  GROUP BY source
),
u AS (
  SELECT source, n,
         (CAST(concat('0x', substr(md5('dp:' || source), 1, 8))
               AS UBIGINT) + 0.5) / 4294967296.0 AS u
  FROM c
)
SELECT source, n,
       round(n - CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
               * ln(1 - 2 * abs(u - 0.5)), 4) AS noisy_n
FROM u
""")
def d51_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import md5_uniform

    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    u = md5_uniform(F.concat(F.lit("dp:"), F.col("source")))
    sign = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    lap = sign * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    return c.select("source", "n",
                    F.round(F.col("n") - lap, 4).alias("noisy_n"))


# ---------------------------------------------------------------------------
# Mergeable-sketch distinct rollup (Spark datasketches HLL): users are
# sharded DISJOINTLY (user_id % 16), each shard builds an
# hll_sketch_agg partial, and the ALL row re-aggregates the 16 partials
# with hll_union_agg — the map-side-combine/daily-rollup pattern that
# makes COUNT DISTINCT mergeable at 100 TB (per-day/per-partition
# sketches unioned at query time, never a re-scan). Disjoint shards
# mean the exact global distinct is the sum of shard distincts, so the
# oracle pins exact counts and within_bound=TRUE; the sketch estimate
# must land within max(5% of exact, 1) — lgConfigK=12's 1.6% standard
# error with 3x slack — or the row (and the hash) flips FALSE. One
# shuffle + one 16-row reduce; no join anywhere.
# ---------------------------------------------------------------------------
@q("q102_hll_merge_rollup", """
WITH per AS (
  SELECT user_id % 16 AS shard, count(DISTINCT user_id) AS n
  FROM events GROUP BY 1
)
SELECT 'shard_' || shard AS scope, CAST(n AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM per
UNION ALL
SELECT 'ALL', CAST(sum(n) AS BIGINT), TRUE FROM per
""")
def q102_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per = (ev.groupBy((F.col("user_id") % 16).alias("shard"))
           .agg(F.hll_sketch_agg("user_id", 12).alias("_sk"),
                F.count_distinct("user_id").alias("n_exact")))

    def bounded(est, exact):
        return (F.abs(est.cast("double") - exact.cast("double"))
                <= F.greatest(F.lit(0.05) * exact.cast("double"),
                              F.lit(1.0)))

    shards = per.select(
        F.concat(F.lit("shard_"), F.col("shard").cast("string"))
        .alias("scope"),
        F.col("n_exact").cast("long").alias("n_exact"),
        bounded(F.hll_sketch_estimate("_sk"), F.col("n_exact"))
        .alias("within_bound"))
    merged = (per.agg(F.hll_union_agg("_sk").alias("_sk"),
                      F.sum("n_exact").alias("n_exact"))
              .select(F.lit("ALL").alias("scope"),
                      F.col("n_exact").cast("long").alias("n_exact"),
                      bounded(F.hll_sketch_estimate("_sk"),
                              F.col("n_exact")).alias("within_bound")))
    return shards.unionByName(merged)


# ---------------------------------------------------------------------------
# Binary-quantized ANN (similarity.binary_hamming_topk): sign-bit codes
# packed into one BIGINT, Hamming (popcount-of-xor) shortlist, exact
# cosine re-rank — the 8-bytes-per-vector retrieval tier. The oracle
# replays the pack bit-for-bit with a DuckDB list comprehension (63
# bits; bit 63 would overflow the shared signed-64 domain) and the
# two-phase shortlist with the same integer/rounded tiebreaks.
# ---------------------------------------------------------------------------
@q("s23_binary_hamming_topk", """
WITH c AS (
  SELECT vec_id, embedding,
         CAST(list_sum([CASE WHEN embedding[i+1] > 0
                             THEN 1::BIGINT << i ELSE 0::BIGINT END
                        FOR i IN range(0, 63)]) AS BIGINT) AS code
  FROM embeddings
),
q AS (SELECT embedding AS qe, code AS qcode FROM c WHERE vec_id = 0),
short AS (
  SELECT vec_id, embedding,
         CAST(bit_count(xor(code, qcode)) AS BIGINT) AS hamming
  FROM c, q
  ORDER BY hamming ASC, vec_id ASC LIMIT 20
)
SELECT vec_id, hamming,
       round(list_cosine_similarity(embedding::DOUBLE[],
                                    qe::DOUBLE[]), 6) AS cos
FROM short, q
ORDER BY cos DESC, vec_id ASC
LIMIT 10
""")
def s23_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.binary_hamming_topk(
        emb, similarity.query_vector(emb, 0), k=10, shortlist=20)


# ---------------------------------------------------------------------------
# Learned quality filter (text.classifier_scores): fastText-shape
# linear classifier over hashing-TF(64) features with deterministic
# integer-quantized weights. The keep decision is w.x >= 0 — exact
# integer arithmetic, no float boundary — and min/max of the rounded
# sigmoid are the layout-deterministic per-source score stats (float
# SUMS would be order-sensitive; min/max are not). Oracle replays
# d41's hashing cells + the floor-quantized weight table.
# ---------------------------------------------------------------------------
@q("d52_classifier_filter", """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
cells AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(w), 1, 8)) AS UBIGINT) % 64 AS b,
         CAST(count(*) AS BIGINT) AS v
  FROM toks WHERE w <> '' GROUP BY 1, 2
),
wt AS (
  SELECT i AS b,
         CAST(floor(((CAST(concat('0x', substr(md5('clfw:' || i), 1, 8))
                           AS UBIGINT) + 0.5) / 4294967296.0) * 20000)
              AS BIGINT) - 10000 AS wi
  FROM range(64) t(i)
),
doc AS (
  SELECT doc_id, sum(v * wi) AS raw, sum(v) AS tot
  FROM cells JOIN wt USING (b) GROUP BY 1
),
sc AS (
  SELECT d.doc_id, s.source, raw,
         1.0 / (1.0 + exp(-(raw::DOUBLE) / (10000.0 * tot))) AS score
  FROM doc d JOIN documents s USING (doc_id) WHERE tot > 0
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN raw >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep,
       round(min(score), 6) AS min_score,
       round(max(score), 6) AS max_score
FROM sc GROUP BY source
""")
def d52_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import classifier_scores

    docs = _t(spark, sf_dir, "documents")
    sc = classifier_scores(docs, dim=64)
    return (sc.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("keep").cast("long")).alias("n_keep"),
                 F.round(F.min("score"), 6).alias("min_score"),
                 F.round(F.max("score"), 6).alias("max_score")))


# ---------------------------------------------------------------------------
# Blocked edit-distance near-dup (dedup.edit_neardup_pairs): the
# record-linkage Levenshtein pass under (length-bucket, 12-char
# normalized prefix) blocking with the LSH-style block cap. Spark runs
# the banded threshold levenshtein; DuckDB computes the full distance
# and filters — same surviving pairs, both QUALIFY-capped with the
# same id order.
# ---------------------------------------------------------------------------
@q("d53_edit_neardup", """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text),
                                            '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents
),
b AS (
  SELECT doc_id, norm, length(norm) // 20 AS lb,
         substr(norm, 1, 12) AS pfx
  FROM n
  QUALIFY row_number() OVER (PARTITION BY lb, pfx
                             ORDER BY doc_id) <= 50
)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       CAST(levenshtein(a.norm, c.norm) AS BIGINT) AS dist
FROM b a JOIN b c ON a.lb = c.lb AND a.pfx = c.pfx
                 AND a.doc_id < c.doc_id
WHERE levenshtein(a.norm, c.norm) <= 8
""")
def d53_edit_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.dedup import edit_neardup_pairs

    return edit_neardup_pairs(_t(spark, sf_dir, "documents"),
                              max_dist=8)


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance (partial-aggregate merge):
# the rollup is maintained as mergeable partials — (sum, count, min)
# per month — so a new ingest batch aggregates ALONE and merges into
# the stored state by re-aggregation (sum-of-sums, sum-of-counts,
# min-of-mins); the base data is NEVER re-scanned. Here the orders
# table is split at 1997-01-01 into "stored base" and "incoming
# delta", each builds its partial independently, and the merged result
# must equal the full recompute the oracle runs directly — the
# algebraic-aggregate contract (avg is derived sum/count POST-merge,
# never averaged across partials). Money in BIGINT cents end-to-end —
# including the derived average, kept as floor-divided integer cents:
# a double average hits round-half boundaries the two engines resolve
# differently (sf0.01's 227673.41875 found one). Merge cost is
# state-sized (months), not data-sized.
# ---------------------------------------------------------------------------
@q("q103_incremental_rollup", """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS min_price_cents,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*)
            AS BIGINT) AS avg_price_cents
FROM orders GROUP BY 1
""")
def q103_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    month = (F.date_trunc("month", "o_orderdate").cast("date")
             .alias("order_month"))

    def partial(df):
        return (df.groupBy(month)
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.sum(cents).alias("revenue_cents"),
                     F.min(cents).alias("min_price_cents")))

    cut = F.lit("1997-01-01").cast("date")
    base = partial(orders.filter(F.col("o_orderdate") < cut))
    delta = partial(orders.filter(F.col("o_orderdate") >= cut))
    merged = (base.unionByName(delta)
              .groupBy("order_month")
              .agg(F.sum("n_orders").alias("n_orders"),
                   F.sum("revenue_cents").alias("revenue_cents"),
                   F.min("min_price_cents").alias("min_price_cents")))
    return merged.withColumn(
        "avg_price_cents",
        F.expr("revenue_cents div n_orders").cast("long"))


# ---------------------------------------------------------------------------
# ANN recall@10 evaluation harness: one query vector, exact cosine
# top-10 as ground truth, and each approximate tier — sign-LSH bucket
# probe (s02), truncated-dimension rerank (s15), binary-Hamming rerank
# (s23) — scored by |top10 ∩ truth| / 10. The rounded-cosine +
# id-tiebreak convention makes every boundary deterministic, so recall
# is an EXACT integer ratio both engines agree on — the eval harness a
# pipeline needs before trusting an index tier at 100 TB (run per
# sampled query, aggregate offline). The oracle restates all four
# result sets with the established SQL replays of each tier.
# ---------------------------------------------------------------------------
def _s24_sql():
    from ecmm428_pycart_spark.benchmarks.datapipe_queries import (
        _BUCKET_SQL, _QBUCKET_SQL)
    return f"""
WITH qv AS (
  SELECT embedding AS q FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT vec_id,
         round(list_cosine_similarity(embedding::DOUBLE[],
                                      q::DOUBLE[]), 6) AS cos
  FROM embeddings, qv
),
ex AS (SELECT vec_id FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10),
lshb AS (
  SELECT vec_id, CAST({_BUCKET_SQL} AS INTEGER) AS bucket, cos
  FROM embeddings JOIN scored USING (vec_id)
),
qb AS (
  SELECT CAST({_QBUCKET_SQL} AS INTEGER) AS bucket FROM qv
),
lsh AS (
  SELECT vec_id FROM lshb JOIN qb USING (bucket)
  ORDER BY cos DESC, vec_id ASC LIMIT 10
),
coarse AS (
  SELECT vec_id,
         round(list_cosine_similarity(embedding[1:8]::DOUBLE[],
                                      q[1:8]::DOUBLE[]), 6) AS c
  FROM embeddings, qv
),
trunc_short AS (
  SELECT vec_id FROM coarse ORDER BY c DESC, vec_id ASC LIMIT 100
),
trunc AS (
  SELECT vec_id FROM trunc_short JOIN scored USING (vec_id)
  ORDER BY cos DESC, vec_id ASC LIMIT 10
),
codes AS (
  SELECT vec_id,
         CAST(list_sum([CASE WHEN embedding[i+1] > 0
                             THEN 1::BIGINT << i ELSE 0::BIGINT END
                        FOR i IN range(0, 63)]) AS BIGINT) AS code
  FROM embeddings
),
qcode AS (SELECT code AS qc FROM codes WHERE vec_id = 0),
ham_short AS (
  SELECT vec_id, bit_count(xor(code, qc)) AS hamming
  FROM codes, qcode
  ORDER BY hamming ASC, vec_id ASC LIMIT 20
),
ham AS (
  SELECT vec_id FROM ham_short JOIN scored USING (vec_id)
  ORDER BY cos DESC, vec_id ASC LIMIT 10
)
SELECT 'sign_lsh' AS method, CAST(count(*) AS BIGINT) AS n_hits,
       round(count(*) / 10.0, 6) AS recall_at_10
FROM lsh JOIN ex USING (vec_id)
UNION ALL
SELECT 'truncated', CAST(count(*) AS BIGINT), round(count(*) / 10.0, 6)
FROM trunc JOIN ex USING (vec_id)
UNION ALL
SELECT 'binary_hamming', CAST(count(*) AS BIGINT),
       round(count(*) / 10.0, 6)
FROM ham JOIN ex USING (vec_id)
"""


@q("s24_ann_recall_eval", _s24_sql())
def s24_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import similarity

    emb = _t(spark, sf_dir, "embeddings")
    qv = similarity.query_vector(emb, 0)
    exact = similarity.cosine_topk(emb, qv, k=10).select("vec_id")
    methods = {
        "sign_lsh": similarity.ann_sign_lsh_topk(emb, qv, k=10)
        .select("vec_id"),
        "truncated": similarity.truncated_rerank_topk(
            emb, qv, k=10, coarse_dims=8, shortlist=100)
        .select("vec_id"),
        "binary_hamming": similarity.binary_hamming_topk(
            emb, qv, k=10, shortlist=20).select("vec_id"),
    }
    out = None
    for name, ids in methods.items():
        row = (ids.join(exact, "vec_id")
               .agg(F.count(F.lit(1)).alias("n_hits"))
               .select(F.lit(name).alias("method"),
                       F.col("n_hits").cast("long").alias("n_hits"),
                       F.round(F.col("n_hits") / 10.0, 6)
                       .alias("recall_at_10")))
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Perceptual DCT hash (multimodal.image_phash) over REAL decoded PNG
# pixels: the m16-dhash pattern upgraded to the frequency domain.
# Spark genuinely decodes the synthesized PNG (unfilter + defilter
# certification, as m16) and runs the integer DCT; the oracle
# recomputes the same hash from the known sawtooth pattern with a
# SEPARABLE two-stage integer DCT in SQL (inner sums over y, outer
# over x — docs x 32 x 8 rows, never docs x 32^2 x 8^2), the
# floor(cos*1e4+0.5) basis re-derived from DuckDB's own cos() (libm
# parity pinned entry-by-entry in tests), and quantile_disc(0.5) as
# the exact element-31 median of the 63 AC coefficients.
# ---------------------------------------------------------------------------
@q("m25_image_phash", """
WITH p AS (
  SELECT doc_id, doc_id % 7 + 1 AS a, doc_id % 5 + 1 AS b FROM documents
),
ct AS (
  SELECT t.t, u.u,
         CAST(floor(cos(pi() * (2*t.t+1) * u.u / 64.0) * 10000 + 0.5)
              AS BIGINT) AS w
  FROM unnest(range(0, 32)) t(t), unnest(range(0, 8)) u(u)
),
inn AS (
  SELECT p.doc_id, x.x, cy.u AS v,
         sum(((a * x.x + b * y.y) % 256) * cy.w) AS s1
  FROM p, unnest(range(0, 32)) x(x), unnest(range(0, 32)) y(y)
  JOIN ct cy ON cy.t = y.y
  GROUP BY 1, 2, 3
),
coef AS (
  SELECT i.doc_id, cx.u AS u, i.v, CAST(sum(i.s1 * cx.w) AS BIGINT) AS c
  FROM inn i JOIN ct cx ON cx.t = i.x
  GROUP BY 1, 2, 3
),
med AS (
  SELECT doc_id, quantile_disc(c, 0.5) AS m
  FROM coef WHERE NOT (u = 0 AND v = 0) GROUP BY doc_id
),
bits AS (
  SELECT coef.doc_id, u * 8 + v AS idx,
         CASE WHEN c > m THEN 1 ELSE 0 END AS bit
  FROM coef JOIN med USING (doc_id)
  WHERE NOT (u = 0 AND v = 0)
)
SELECT doc_id,
       CAST(sum(CASE WHEN idx >= 32
                     THEN bit * (CAST(1 AS BIGINT) << (idx - 32))
                     ELSE 0 END) AS BIGINT) AS hash_hi,
       CAST(sum(CASE WHEN idx < 32
                     THEN bit * (CAST(1 AS BIGINT) << idx)
                     ELSE 0 END) AS BIGINT) AS hash_lo
FROM bits GROUP BY doc_id
""")
def m25_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    payload = docs.withColumn(
        "payload", multimodal.synth_png_pattern_payload(F.col("doc_id")))
    h = payload.withColumn("h", multimodal.image_phash(F.col("payload")))
    return h.select("doc_id", F.col("h.hash_hi").alias("hash_hi"),
                    F.col("h.hash_lo").alias("hash_lo"))


# ---------------------------------------------------------------------------
# Deterministic label propagation (graph.label_propagation): 16
# interleaved seed communities (node % 16) on the queen-contiguity
# customer grid, 3 synchronous most-frequent-neighbor rounds with
# min-label tiebreak, reduced to community sizes. Unlike g17's golden,
# the grid's closed-form edge set lets the oracle restate EVERY round
# as SQL (count + argmax per node, unrolled 3x) — an iterative graph
# algorithm with a first-principles oracle, no fingerprint dispatch.
# ---------------------------------------------------------------------------
_G19_ROUND = """
c{i} AS (
  SELECT u.a AS k, l.lab, count(*) AS c
  FROM und u JOIN l{j} l ON l.k = u.b GROUP BY 1, 2
),
b{i} AS (
  SELECT k, lab FROM c{i}
  QUALIFY row_number() OVER (PARTITION BY k
                             ORDER BY c DESC, lab ASC) = 1
),
l{i} AS (
  SELECT l.k, coalesce(b.lab, l.lab) AS lab
  FROM l{j} l LEFT JOIN b{i} b USING (k)
)"""


@q("g19_label_propagation", f"""
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
und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
l0 AS (SELECT k, k % 16 AS lab FROM g),
{_G19_ROUND.format(i=1, j=0)},
{_G19_ROUND.format(i=2, j=1)},
{_G19_ROUND.format(i=3, j=2)}
SELECT CAST(lab AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_nodes
FROM l3 GROUP BY 1
""")
def g19_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.borders_store import (
        customer_borders, customer_nodes)
    from ecmm428_pycart_spark.datapipe.graph import label_propagation

    # borders from the write-once store (round 9, datapipe/borders_store);
    # seeds come straight from the customer keys (node set == grid
    # region_idx, pinned by test_borders_store) — no geometry build here.
    borders = customer_borders(spark, sf_dir)
    e = borders.select(F.col("focal").alias("src"),
                       F.col("neighbor").alias("dst"))
    seeds = customer_nodes(spark, sf_dir).select(
        F.col("region_idx").alias("node"),
        (F.col("region_idx") % 16).alias("label"))
    out = label_propagation(e, seeds, rounds=3)
    return (out.groupBy(F.col("label").cast("long").alias("label"))
            .agg(F.count(F.lit(1)).alias("n_nodes")))


# ---------------------------------------------------------------------------
# Streaming sketch vs batch truth (the lambda-architecture check):
# daily distinct users per event type via approx_count_distinct
# (HLL++, rsd=0.02) computed UNDER Structured Streaming state —
# micro-batches merge register-wise, which is order-insensitive, so
# the streamed estimate is deterministic — then validated against the
# exact batch count in the same query. Exact COUNT(DISTINCT) is
# unsupported on streams (unbounded state per group); the sketch is
# the production answer, and this query gate-checks its error bound
# (max(5%, 1) — 2.5x the configured rsd) every round. st01's bounded
# replay harness: complete-mode memory sink, availableNow drain,
# partition-pinned run.
# ---------------------------------------------------------------------------
@q("st16_stream_approx_distinct", """
SELECT CAST(ts AS DATE) AS event_date, event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM events GROUP BY 1, 2
""")
def st16_stream_approx_distinct(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    import os
    import uuid

    from ecmm428_pycart_spark.benchmarks.relational import (
        _await_stream, _scratch)
    from ecmm428_pycart_spark.streaming.events import read_events_stream

    d = _scratch("st16_events_")
    os.symlink(os.path.join(sf_dir, "events.parquet"),
               os.path.join(d, "events.parquet"))
    stream = read_events_stream(spark, d)
    name = f"st16_{uuid.uuid4().hex[:8]}"
    _await_stream(
        spark,
        stream.groupBy(F.col("ts").cast("date").alias("event_date"),
                       "event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("est"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    est = spark.table(name)
    exact = (_t(spark, sf_dir, "events")
             .groupBy(F.col("ts").cast("date").alias("event_date"),
                      "event_type")
             .agg(F.count_distinct("user_id").alias("n_exact")))
    return (exact.join(est, ["event_date", "event_type"])
            .select("event_date", "event_type",
                    F.col("n_exact").cast("long").alias("n_exact"),
                    (F.abs(F.col("est").cast("double")
                           - F.col("n_exact").cast("double"))
                     <= F.greatest(F.lit(0.05)
                                   * F.col("n_exact").cast("double"),
                                   F.lit(1.0))).alias("within_bound")))


# ---------------------------------------------------------------------------
# Streaming top-k serving pattern: daily per-type counts maintained
# UNDER Structured Streaming (complete-mode state, st01's bounded
# replay harness), then the top-3 rank computed over the compacted
# serving table — the lambda-architecture split every "trending now"
# feature uses (the stream maintains O(days x types) state; the rank
# window runs on that tiny table at serve time, never on raw events).
# Deterministic tiebreak (count DESC, type ASC); oracle = the batch
# equivalent end-to-end.
# ---------------------------------------------------------------------------
@q("st17_stream_window_topk", """
WITH c AS (
  SELECT CAST(ts AS DATE) AS event_date, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_date
                               ORDER BY n DESC, event_type ASC) AS rk
  FROM c
)
SELECT event_date, event_type, n, CAST(rk AS INTEGER) AS rk
FROM r WHERE rk <= 3
""")
def st17_stream_window_topk(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    import os
    import uuid

    from pyspark.sql.window import Window

    from ecmm428_pycart_spark.benchmarks.relational import (
        _await_stream, _scratch)
    from ecmm428_pycart_spark.streaming.events import read_events_stream

    d = _scratch("st17_events_")
    os.symlink(os.path.join(sf_dir, "events.parquet"),
               os.path.join(d, "events.parquet"))
    stream = read_events_stream(spark, d)
    name = f"st17_{uuid.uuid4().hex[:8]}"
    _await_stream(
        spark,
        stream.groupBy(F.col("ts").cast("date").alias("event_date"),
                       "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    out = spark.table(name)
    w = (Window.partitionBy("event_date")
         .orderBy(F.col("n").desc(), F.col("event_type").asc()))
    return (out.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("event_date", "event_type",
                    F.col("n").cast("long").alias("n"), "rk"))


# ---------------------------------------------------------------------------
# Bounded BFS layers (graph.bfs_layers): real level-synchronous
# frontier expansion from the minimum customer key over the queen
# grid, 6 rounds. The oracle never runs a traversal: king-move
# shortest-path distance on the (single-missing-corner) contiguous-id
# grid IS Chebyshev distance max(|dx|, |dy|) — full interior rows plus
# a left-aligned partial last row always admit a monotone diagonal
# path — so the layer sizes come straight from the coordinate algebra.
# An algorithmic BFS gate-checked against closed-form geometry.
# ---------------------------------------------------------------------------
@q("g20_bfs_layers", """
WITH p AS (
  SELECT CAST(ceiling(sqrt(count(*))) AS BIGINT) AS side FROM customer
),
g AS (
  SELECT c_custkey AS k, c_custkey % side AS gx, c_custkey // side AS gy
  FROM customer, p
),
s AS (
  SELECT gx AS sx, gy AS sy FROM g
  WHERE k = (SELECT min(c_custkey) FROM customer)
)
SELECT CAST(greatest(abs(gx - sx), abs(gy - sy)) AS BIGINT) AS distance,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM g, s
WHERE greatest(abs(gx - sx), abs(gy - sy)) <= 6
GROUP BY 1
""")
def g20_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.datapipe.graph import bfs_layers
    from ecmm428_pycart_spark.operators.borders import get_borders

    grid = _customer_grid(spark, sf_dir).drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    e = borders.select(F.col("focal").alias("src"),
                       F.col("neighbor").alias("dst"))
    src = (grid.agg(F.min("region_idx").alias("node")))
    layers = bfs_layers(e, src, max_depth=6)
    return (layers.groupBy(F.col("distance").cast("long")
                           .alias("distance"))
            .agg(F.count(F.lit(1)).alias("n_nodes")))


# ---------------------------------------------------------------------------
# Unicode script detection (text.script_profile/dominant_script): the
# writing-system router multilingual curation runs before lang-id —
# per-script letter counts (Latin/Cyrillic/Greek/Han; Java spells the
# property \p{IsX}, RE2 \p{X}, verified count-identical) and an
# integer-argmax dominant script with fixed tie precedence. The
# fixture splices deterministic Cyrillic/Han/Greek snippets (scaled
# by doc_id) onto the Latin corpus so every script wins somewhere;
# dominance flips exactly where the integer counts cross, which both
# engines must agree on.
# ---------------------------------------------------------------------------
_D57_MIX = """CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 1 THEN text || ' ' ||
        repeat('данные очень важны и полезны ',
               CAST(1 + doc_id % 10 AS INTEGER))
      WHEN 2 THEN text || ' ' ||
        repeat('数据质量非常重要可靠 ', CAST(1 + doc_id % 10 AS INTEGER))
      WHEN 3 THEN text || ' ' ||
        repeat('ποιότητα δεδομένων έχει σημασία ',
               CAST(1 + doc_id % 10 AS INTEGER))
      ELSE text END"""


@q("d57_script_mix", f"""
WITH m AS (
  SELECT source, {_D57_MIX} AS t FROM documents
),
c AS (
  SELECT source,
         len(regexp_extract_all(t, '\\p{{Latin}}')) AS la,
         len(regexp_extract_all(t, '\\p{{Cyrillic}}')) AS cy,
         len(regexp_extract_all(t, '\\p{{Greek}}')) AS gr,
         len(regexp_extract_all(t, '\\p{{Han}}')) AS ha
  FROM m
),
d AS (
  SELECT source, la, cy, gr, ha,
         CASE WHEN la = greatest(la, cy, gr, ha) THEN 'latin'
              WHEN cy = greatest(la, cy, gr, ha) THEN 'cyrillic'
              WHEN gr = greatest(la, cy, gr, ha) THEN 'greek'
              ELSE 'han' END AS dominant
  FROM c
)
SELECT source, dominant,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(la) AS BIGINT) AS n_latin,
       CAST(sum(cy) AS BIGINT) AS n_cyrillic,
       CAST(sum(gr) AS BIGINT) AS n_greek,
       CAST(sum(ha) AS BIGINT) AS n_han
FROM d GROUP BY source, dominant
""")
def d57_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import (dominant_script,
                                                    script_profile)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")
    mixed = docs.select("source", F.expr(_D57_MIX).alias("t"))
    prof = mixed.select("source", script_profile("t").alias("p"),
                        dominant_script("t").alias("dominant"))
    return (prof.groupBy("source", "dominant")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("p.latin").cast("long").alias("n_latin"),
                 F.sum("p.cyrillic").cast("long").alias("n_cyrillic"),
                 F.sum("p.greek").cast("long").alias("n_greek"),
                 F.sum("p.han").cast("long").alias("n_han")))


# ---------------------------------------------------------------------------
# N-gram containment near-dup (dedup.containment_pairs): the
# ASYMMETRIC partial-copy detector — top-20 df-capped word-3-gram
# intersections with floor-divided containment ppm both directions
# (inter/|A| and inter/|B|), all-integer. The oracle replays the full
# inverted-index pipeline (distinct shingles, df cap, self-join,
# full-set denominators) in SQL; max inter ~90 on the fixture's
# near-dup planted pairs, so a cap or denominator regression reorders
# the page.
# ---------------------------------------------------------------------------
@q("d59_containment_dup", """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
  FROM t, unnest(range(1, len(w) - 1)) r(i)
),
sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
dfc AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 16),
gk AS (SELECT g.* FROM g JOIN dfc USING (gram)),
p AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
  FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(inter AS BIGINT) AS inter,
       CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b,
       CAST(inter * 1000000 // sa.sz AS BIGINT) AS cont_a_ppm,
       CAST(inter * 1000000 // sb.sz AS BIGINT) AS cont_b_ppm
FROM p JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
ORDER BY inter DESC, a ASC, b ASC LIMIT 20
""")
def d59_containment_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = containment_pairs(docs, n=3, max_df=16, min_inter=2)
    return (pairs.select(
                F.col("a").cast("long").alias("a"),
                F.col("b").cast("long").alias("b"),
                F.col("inter").cast("long").alias("inter"),
                F.col("n_a").cast("long").alias("n_a"),
                F.col("n_b").cast("long").alias("n_b"),
                F.expr("inter * 1000000 div n_a").cast("long")
                .alias("cont_a_ppm"),
                F.expr("inter * 1000000 div n_b").cast("long")
                .alias("cont_b_ppm"))
            .orderBy(F.col("inter").desc(), F.col("a").asc(),
                     F.col("b").asc())
            .limit(20))


# ---------------------------------------------------------------------------
# Count-Min sketch (text.countmin_sketch/_estimate): the mergeable
# depth x width counter table probed for the top-10 exact tokens —
# est == the row-wise min of md5 buckets, replayed END-TO-END in SQL
# (build + probe, no golden), plus the deterministic half of the CMS
# contract (est >= exact, always) pinned per row. Complements d39's
# Misra-Gries (which underestimates): the two sketches bracket the
# truth from opposite sides.
# ---------------------------------------------------------------------------
@q("d58_countmin_sketch", """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
ex AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_exact FROM tok
  GROUP BY w ORDER BY n_exact DESC, w ASC LIMIT 10
),
r AS (SELECT r FROM unnest(range(0, 4)) t(r)),
sk AS (
  SELECT r.r,
         CAST(concat('0x', substr(md5('cms' || r.r || ':' || w), 1, 8))
              AS UBIGINT) % 512 AS bucket,
         count(*) AS n
  FROM tok, r GROUP BY 1, 2
),
probe AS (
  SELECT ex.w, r.r,
         CAST(concat('0x', substr(md5('cms' || r.r || ':' || ex.w), 1, 8))
              AS UBIGINT) % 512 AS bucket
  FROM ex, r
)
SELECT ex.w AS token, ex.n_exact,
       CAST(min(coalesce(sk.n, 0)) AS BIGINT) AS n_est,
       (min(coalesce(sk.n, 0)) >= ex.n_exact) AS overestimates
FROM probe JOIN ex ON ex.w = probe.w
LEFT JOIN sk ON sk.r = probe.r AND sk.bucket = probe.bucket
GROUP BY ex.w, ex.n_exact
""")
def d58_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import (countmin_estimate,
                                                    countmin_sketch, tokens)

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    ex = (toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_exact"))
          .orderBy(F.col("n_exact").desc(), F.col("w").asc())
          .limit(10)
          .select(F.col("w").alias("token"),
                  F.col("n_exact").cast("long").alias("n_exact")))
    sk = countmin_sketch(docs)
    est = countmin_estimate(sk, ex.select("token"))
    return (ex.join(est, "token")
            .select("token", "n_exact",
                    F.col("n_est").cast("long").alias("n_est"),
                    (F.col("n_est") >= F.col("n_exact"))
                    .alias("overestimates")))


# ---------------------------------------------------------------------------
# URL/domain curation filter (text.url_host): per-doc synthetic URLs
# (deterministic md5-bucket host pool with mixed-case schemes, www.
# prefixes, explicit ports) -> normalized host -> broadcast domain
# blocklist -> per-host keep/drop accounting — the C4/RefinedWeb
# domain-filter stage. The fixture varies every normalization axis so
# a missed strip (case, www, port, path) splits a host into two rows
# and reddens the hash. Map-side normalize + broadcast join: zero
# probe-side shuffle before the 12-row host rollup.
# ---------------------------------------------------------------------------
@q("d56_url_host_filter", """
WITH u AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('u:' || doc_id), 1, 8))
              AS UBIGINT) % 12 AS idx
  FROM documents
),
urls AS (
  SELECT doc_id,
         concat(CASE WHEN doc_id % 2 = 1 THEN 'HTTPS' ELSE 'https' END,
                '://',
                CASE WHEN idx % 2 = 0 THEN 'www.' ELSE '' END,
                'h', idx, '.example.com',
                CASE WHEN idx % 3 = 0 THEN ':8443' ELSE '' END,
                '/p/', doc_id) AS url
  FROM u
),
h AS (
  SELECT doc_id,
         regexp_replace(
           regexp_extract(lower(url),
                          '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1),
           '^www\\.', '') AS host
  FROM urls
),
b AS (SELECT unnest(['h2.example.com', 'h5.example.com',
                     'h9.example.com']) AS bhost)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_docs,
       (bhost IS NOT NULL) AS is_blocked,
       CAST(CASE WHEN bhost IS NULL THEN count(*) ELSE 0 END
            AS BIGINT) AS n_kept
FROM h LEFT JOIN b ON h.host = b.bhost
GROUP BY host, bhost
""")
def d56_url_host_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import md5_bucket, url_host

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    idx = md5_bucket(F.concat(F.lit("u:"), F.col("doc_id")), 12) \
        .cast("long")
    urls = docs.withColumn("idx", idx).select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 1, F.lit("HTTPS"))
            .otherwise(F.lit("https")),
            F.lit("://"),
            F.when(F.col("idx") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.lit("h"), F.col("idx"), F.lit(".example.com"),
            F.when(F.col("idx") % 3 == 0, F.lit(":8443"))
            .otherwise(F.lit("")),
            F.lit("/p/"), F.col("doc_id")).alias("url"))
    hosts = urls.select("doc_id", url_host("url").alias("host"))
    block = spark.createDataFrame(
        [(h,) for h in ("h2.example.com", "h5.example.com",
                        "h9.example.com")], "bhost string")
    return (hosts.join(F.broadcast(block),
                       hosts.host == block.bhost, "left")
            .groupBy("host", "bhost")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select("host", F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("bhost").isNotNull().alias("is_blocked"),
                    F.when(F.col("bhost").isNull(), F.col("n_docs"))
                    .otherwise(F.lit(0)).cast("long").alias("n_kept")))


# ---------------------------------------------------------------------------
# Link prediction (graph.link_prediction_scores): common-neighbor
# candidate scoring over the queen grid — every NON-adjacent pair
# sharing >= 1 common neighbor, top-20 by (cn DESC, a, b) with the
# neighborhood Jaccard as floor-divided ppm, so the whole row is
# integer (no float crosses engines). The oracle replays the wedge
# join + anti-join on the closed-form grid adjacency (g19/g20's
# coordinate algebra); on the interior, straight distance-2 pairs
# score cn=3, knight pairs 2, diagonal-2 pairs 1 — the top-20 under
# the integer tiebreak is the lowest-id straight pairs, so a wedge
# or anti-join regression reshuffles the page and reddens the hash.
# ---------------------------------------------------------------------------
@q("g21_link_prediction", """
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
und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
deg AS (SELECT a AS n, count(*) AS d FROM und GROUP BY a),
cn AS (
  SELECT w1.b AS a, w2.b AS b, count(*) AS cn
  FROM und w1 JOIN und w2 ON w1.a = w2.a AND w1.b < w2.b
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w1.b AND e.b = w2.b)
  GROUP BY 1, 2
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(cn AS BIGINT) AS cn,
       CAST(da.d AS BIGINT) AS deg_a, CAST(db.d AS BIGINT) AS deg_b,
       CAST(cn * 1000000 // (da.d + db.d - cn) AS BIGINT) AS jaccard_ppm
FROM cn JOIN deg da ON da.n = a JOIN deg db ON db.n = b
ORDER BY cn DESC, a ASC, b ASC LIMIT 20
""")
def g21_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.datapipe.graph import link_prediction_scores
    from ecmm428_pycart_spark.operators.borders import get_borders

    grid = _customer_grid(spark, sf_dir).drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    e = borders.select(F.col("focal").alias("src"),
                       F.col("neighbor").alias("dst"))
    scores = link_prediction_scores(e)
    return (scores.select(
                F.col("a").cast("long").alias("a"),
                F.col("b").cast("long").alias("b"),
                F.col("cn").cast("long").alias("cn"),
                F.col("deg_a").cast("long").alias("deg_a"),
                F.col("deg_b").cast("long").alias("deg_b"),
                F.expr("cn * 1000000 div (deg_a + deg_b - cn)")
                .cast("long").alias("jaccard_ppm"))
            .orderBy(F.col("cn").desc(), F.col("a").asc(),
                     F.col("b").asc())
            .limit(20))


# ---------------------------------------------------------------------------
# Matryoshka dimension-sweep recall curve: the s24 harness specialized
# to the truncated-prefix tier at dims 4/8/16/32 — the measurement
# behind choosing an MRL serving dimension (recall@10 vs prefix
# length, shortlist fixed at 100). One scan per dim at gate scale;
# in production the prefixes share the same stored vector, so the
# sweep is one pass with four slice projections.
# ---------------------------------------------------------------------------
_S25_DIMS = (4, 8, 16, 32)


def _s25_sql():
    tiers = []
    for d in _S25_DIMS:
        tiers.append(f"""
co{d} AS (
  SELECT vec_id,
         round(list_cosine_similarity(embedding[1:{d}]::DOUBLE[],
                                      q[1:{d}]::DOUBLE[]), 6) AS c
  FROM embeddings, qv
),
sh{d} AS (SELECT vec_id FROM co{d} ORDER BY c DESC, vec_id ASC LIMIT 100),
t{d} AS (
  SELECT vec_id FROM sh{d} JOIN scored USING (vec_id)
  ORDER BY cos DESC, vec_id ASC LIMIT 10
)""")
        rows = "\nUNION ALL\n".join(
            f"SELECT {d} AS coarse_dims, CAST(count(*) AS BIGINT) AS n_hits,"
            f" round(count(*) / 10.0, 6) AS recall_at_10 "
            f"FROM t{d} JOIN ex USING (vec_id)" for d in _S25_DIMS)
    return f"""
WITH qv AS (
  SELECT embedding AS q FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT vec_id,
         round(list_cosine_similarity(embedding::DOUBLE[],
                                      q::DOUBLE[]), 6) AS cos
  FROM embeddings, qv
),
ex AS (SELECT vec_id FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10),
{','.join(tiers)}
{rows}
"""


@q("s25_matryoshka_recall", _s25_sql())
def s25_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import similarity

    emb = _t(spark, sf_dir, "embeddings")
    qv = similarity.query_vector(emb, 0)
    exact = similarity.cosine_topk(emb, qv, k=10).select("vec_id")
    out = None
    for d in _S25_DIMS:
        ids = similarity.truncated_rerank_topk(
            emb, qv, k=10, coarse_dims=d, shortlist=100).select("vec_id")
        row = (ids.join(exact, "vec_id")
               .agg(F.count(F.lit(1)).alias("n_hits"))
               .select(F.lit(d).alias("coarse_dims"),
                       F.col("n_hits").cast("long").alias("n_hits"),
                       F.round(F.col("n_hits") / 10.0, 6)
                       .alias("recall_at_10")))
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Corpus-wide sentence-level dedup retention (the RefinedWeb /
# CCNet line-dedup stage): explode sentences ('. ' boundaries, >= 20
# chars), count each sentence corpus-wide, call > 2 occurrences
# boilerplate, report per-source how many sentence instances and how
# many characters survive removal. The sentence-key shuffle IS the
# algorithm (bounded by distinct-sentence cardinality); everything
# else is map-side. Pure integer outputs.
# ---------------------------------------------------------------------------
@q("d54_sentence_dedup", """
WITH sent AS (
  SELECT source, trim(s) AS s
  FROM (SELECT source, unnest(string_split(text, '. ')) AS s
        FROM documents)
  WHERE length(trim(s)) >= 20
),
cnt AS (SELECT s, count(*) AS n FROM sent GROUP BY s)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(CASE WHEN n > 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_sentences,
       CAST(sum(length(s)) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN n <= 2 THEN length(s) ELSE 0 END) AS BIGINT)
         AS chars_retained
FROM sent JOIN cnt USING (s)
GROUP BY source
""")
def d54_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sent = (docs.select("source",
                        F.explode(F.split("text", "\\. ")).alias("_raw"))
            .select("source", F.trim("_raw").alias("s"))
            .filter(F.length("s") >= 20))
    cnt = sent.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    j = sent.join(cnt, "s")
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_sentences"),
                 F.sum((F.col("n") > 2).cast("long"))
                 .alias("n_dup_sentences"),
                 F.sum(F.length("s")).alias("chars_total"),
                 F.sum(F.when(F.col("n") <= 2, F.length("s"))
                       .otherwise(F.lit(0))).alias("chars_retained")))


# ---------------------------------------------------------------------------
# Code-likeness routing filter (the CodeParrot-style code-vs-prose
# gate): density of {};= characters per char routes documents to the
# code or prose pipeline. All counts are length-difference
# expressions (no regex engine in the hot path); the ratio is a
# small-denominator rational (n_chars <= ~600 lacks the 2^7*5^6
# factor a round-6 half boundary needs), so round(.,6) is provably
# boundary-free. Map-side until the per-source reduce.
# ---------------------------------------------------------------------------
@q("d55_code_filter", """
WITH m AS (
  SELECT source,
         length(text) AS n_chars,
         (length(text) - length(replace(text, '{', '')))
         + (length(text) - length(replace(text, '}', '')))
         + (length(text) - length(replace(text, ';', '')))
         + (length(text) - length(replace(text, '=', ''))) AS n_code
  FROM documents WHERE length(text) > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_code * 100 >= n_chars THEN 1 ELSE 0 END)
            AS BIGINT) AS n_code_like,
       round(min(n_code::DOUBLE / n_chars), 6) AS min_ratio,
       round(max(n_code::DOUBLE / n_chars), 6) AS max_ratio
FROM m GROUP BY source
""")
def d55_code_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)

    def cnt(ch):
        return F.length("text") - F.length(F.replace(
            F.col("text"), F.lit(ch), F.lit("")))

    n_code = cnt("{") + cnt("}") + cnt(";") + cnt("=")
    m = docs.select("source", F.length("text").alias("n_chars"),
                    n_code.alias("n_code"))
    # integer threshold (n_code/n_chars >= 1%) — no float in the gate
    return (m.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("n_code") * 100 >= F.col("n_chars"))
                       .cast("long")).alias("n_code_like"),
                 F.round(F.min(F.col("n_code").cast("double")
                               / F.col("n_chars")), 6).alias("min_ratio"),
                 F.round(F.max(F.col("n_code").cast("double")
                               / F.col("n_chars")), 6)
                 .alias("max_ratio")))


# ---------------------------------------------------------------------------
# Dataset normalization constants (multimodal.png_channel_sums): the
# ImageNet-mean computation — per-channel pixel sums over REAL decoded
# RGB PNGs, merged corpus-wide as exact integer partials, mean
# reported as floor-divided parts-per-million (no float anywhere, so
# the constants are identical at any partitioning). Oracle replays
# the synthetic channel pattern per doc and the same integer reduce.
# ---------------------------------------------------------------------------
@q("m26_channel_norm_stats", """
WITH p AS (
  SELECT doc_id, doc_id % 7 + 1 AS a, doc_id % 5 + 1 AS b FROM documents
),
px AS (
  SELECT p.doc_id, c.c,
         sum((a * x.x + b * y.y + 37 * c.c) % 256) AS s
  FROM p, unnest(range(0, 16)) x(x), unnest(range(0, 12)) y(y),
       unnest(range(0, 3)) c(c)
  GROUP BY 1, 2
)
SELECT CASE c WHEN 0 THEN 'r' WHEN 1 THEN 'g' ELSE 'b' END AS channel,
       CAST(sum(s) AS BIGINT) AS total,
       CAST(count(*) * 192 AS BIGINT) AS n_pix,
       CAST(sum(s) * 1000000 // (count(*) * 192) AS BIGINT) AS mean_ppm
FROM px GROUP BY c
""")
def m26_channel_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    payload = docs.withColumn(
        "payload", multimodal.synth_png_rgb_payload(F.col("doc_id")))
    sums = payload.withColumn(
        "s", multimodal.png_channel_sums(F.col("payload")))
    agg = sums.agg(
        F.sum("s.sum_r").alias("r"), F.sum("s.sum_g").alias("g"),
        F.sum("s.sum_b").alias("b"), F.sum("s.n_pix").alias("n"))
    rows = F.array(*[
        F.struct(F.lit(ch).alias("channel"),
                 F.col(ch).cast("long").alias("total"))
        for ch in ("r", "g", "b")])
    return (agg.select(F.explode(rows).alias("_x"), F.col("n"))
            .select(F.col("_x.channel").alias("channel"),
                    F.col("_x.total").alias("total"),
                    F.col("n").cast("long").alias("n_pix"),
                    F.expr("_x.total * 1000000 div n").cast("long")
                    .alias("mean_ppm")))


# ---------------------------------------------------------------------------
# REAL BMP decode (multimodal.decode_bmp_pixels): 24-bit uncompressed
# DIBs — per-source channel sums + the top-left-green orientation
# sentinel over 17x11 fixtures that alternate bottom-up and top-down
# (negative-height) storage with 4-byte row padding (odd width). The
# oracle replays the m26 channel algebra per doc (the sums are
# orientation-invariant) and pins tl_g = 37 for EVERY doc — a stride,
# BGR, or row-order bug shifts either the sums or the sentinel.
# ---------------------------------------------------------------------------
@q("m28_bmp_pixel_stats", """
WITH p AS (
  SELECT doc_id, source, doc_id % 7 + 1 AS a, doc_id % 5 + 1 AS b
  FROM documents
),
px AS (
  SELECT p.doc_id, p.source,
         sum(CASE WHEN c.c = 0
                  THEN (a * x.x + b * y.y) % 256 ELSE 0 END) AS sr,
         sum(CASE WHEN c.c = 1
                  THEN (a * x.x + b * y.y + 37) % 256 ELSE 0 END) AS sg,
         sum(CASE WHEN c.c = 2
                  THEN (a * x.x + b * y.y + 74) % 256 ELSE 0 END) AS sb
  FROM p, unnest(range(0, 17)) x(x), unnest(range(0, 11)) y(y),
       unnest(range(0, 3)) c(c)
  GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(sr) AS BIGINT) AS total_r,
       CAST(sum(sg) AS BIGINT) AS total_g,
       CAST(sum(sb) AS BIGINT) AS total_b,
       CAST(count(*) * 187 AS BIGINT) AS n_pix,
       CAST(count(*) AS BIGINT) AS n_tl_correct
FROM px GROUP BY source
""")
def m28_bmp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    payload = docs.withColumn(
        "payload", multimodal.synth_bmp_rgb_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.bmp_pixel_stats(F.col("payload")))
    return (st.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.sum_r").cast("long").alias("total_r"),
                 F.sum("s.sum_g").cast("long").alias("total_g"),
                 F.sum("s.sum_b").cast("long").alias("total_b"),
                 F.sum("s.n_pix").cast("long").alias("n_pix"),
                 F.sum((F.col("s.tl_g") == 37).cast("long"))
                 .alias("n_tl_correct")))


# ---------------------------------------------------------------------------
# REAL G.711 mu-law decode (multimodal._ulaw_expand via
# decode_wav_samples fmt-code 7): telephony companding expanded to
# linear PCM with the CCITT all-integer arithmetic, which the oracle
# replays IN SQL (byte synthesis + expansion — no golden file). The
# fixture sweeps all 256 code points corpus-wide, so both signs and
# every exponent segment are exercised; sum_peak carries per-doc
# max-abs sensitivity through the per-source rollup.
# ---------------------------------------------------------------------------
@q("m29_ulaw_wav_stats", """
WITH d AS (
  SELECT doc_id, source, doc_id % 200 + 30 AS n FROM documents
),
v AS (
  SELECT d.doc_id, d.source,
         CASE WHEN u >= 128 THEN 132 - t ELSE t - 132 END AS val
  FROM (
    SELECT d.doc_id, d.source,
           255 - ((13 * j.j + 7 * d.doc_id) % 256) AS u,
           (((255 - ((13 * j.j + 7 * d.doc_id) % 256)) % 16) * 8 + 132)
             << (((255 - ((13 * j.j + 7 * d.doc_id) % 256)) // 16) % 8)
             AS t
    FROM d, unnest(range(0, d.n)) j(j)
  ) d
),
s AS (
  SELECT doc_id, source, count(*) AS ns, sum(val) AS sv,
         max(abs(val)) AS pk,
         sum(CASE WHEN val > 0 THEN 1 ELSE 0 END) AS np
  FROM v GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ns) AS BIGINT) AS total_samples,
       CAST(sum(sv) AS BIGINT) AS total_sum,
       CAST(sum(pk) AS BIGINT) AS sum_peak,
       CAST(sum(np) AS BIGINT) AS total_pos
FROM s GROUP BY source
""")
def m29_ulaw_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    payload = docs.withColumn(
        "payload", multimodal.synth_wav_ulaw_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.wav_ulaw_stats(F.col("payload")))
    return (st.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.n_samples").cast("long").alias("total_samples"),
                 F.sum("s.sum_val").cast("long").alias("total_sum"),
                 F.sum("s.peak").cast("long").alias("sum_peak"),
                 F.sum("s.n_pos").cast("long").alias("total_pos")))


# ---------------------------------------------------------------------------
# REAL ZIP central-directory walk (multimodal.decode_zip_manifest):
# manifest-first archive ingestion — EOCD signature scan, central
# records cross-checked against local headers, CRC32 of the stored
# bytes verified per member. Closed-form oracle: member counts, name
# lengths, and byte totals (including doc_id's decimal width) are
# pure arithmetic; crc_ok is the Spark-side invariant pinned TRUE.
# ---------------------------------------------------------------------------
@q("m30_zip_manifest", """
WITH d AS (
  SELECT doc_id, source, doc_id % 4 + 1 AS k FROM documents
),
m AS (
  SELECT d.doc_id, d.source, d.k,
         sum(length('m' || d.doc_id || ':' || j.j || '|') * (j.j + 3))
           AS bytes
  FROM d, unnest(range(0, d.k)) j(j)
  GROUP BY 1, 2, 3
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(k) AS BIGINT) AS total_members,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(sum(k) * 6 AS BIGINT) AS total_name_len,
       CAST(count(*) AS BIGINT) AS n_crc_ok
FROM m GROUP BY source
""")
def m30_zip_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    payload = docs.withColumn(
        "payload", multimodal.synth_zip_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.zip_manifest_stats(F.col("payload")))
    return (st.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.n_members").cast("long").alias("total_members"),
                 F.sum("s.total_bytes").cast("long").alias("total_bytes"),
                 F.sum("s.total_name_len").cast("long")
                 .alias("total_name_len"),
                 F.sum(F.col("s.crc_ok").cast("long"))
                 .alias("n_crc_ok")))


# ---------------------------------------------------------------------------
# Silence trim over REAL decoded PCM (multimodal.wav_trim_silence):
# the VAD-lite cut before audio featurize. The tone-burst fixture
# (m20's synth: square wave of length half = id%250+50, then half
# zeros) gives exact closed forms: lead 0, tail half, retained half.
# ---------------------------------------------------------------------------
@q("m27_wav_silence_trim", """
SELECT doc_id,
       CAST(2 * (doc_id % 250 + 50) AS BIGINT) AS n_samples,
       CAST(0 AS BIGINT) AS lead_trim,
       CAST(doc_id % 250 + 50 AS BIGINT) AS tail_trim,
       CAST(doc_id % 250 + 50 AS BIGINT) AS trimmed_n
FROM documents
""")
def m27_wav_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    payload = docs.withColumn(
        "payload", multimodal.synth_wav_burst_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.wav_trim_silence(F.col("payload")))
    return st.select("doc_id", "s.n_samples", "s.lead_trim",
                     "s.tail_trim", "s.trimmed_n")


# ---------------------------------------------------------------------------
# IVF nprobe recall sweep: the s25 pattern for the IVF tier — recall@10
# against exact cosine at nprobe 1/2/4 (of the |labels| coarse lists),
# the tuning curve behind every IVF deployment ("how many lists must I
# probe for target recall"). Probe semantics restate s04/s13's: rounded
# squared-L2 to the label centroids, label tiebreak, candidates =
# probed lists' members only.
# ---------------------------------------------------------------------------
_S26_PROBES = (1, 2, 4)


def _s26_sql():
    tiers = []
    for np_ in _S26_PROBES:
        tiers.append(f"""
ql{np_} AS (
  SELECT cand_label FROM qd ORDER BY d2 ASC, cand_label ASC LIMIT {np_}
),
t{np_} AS (
  SELECT vec_id FROM scored
  WHERE label IN (SELECT cand_label FROM ql{np_})
  ORDER BY cos DESC, vec_id ASC LIMIT 10
)""")
    rows = "\nUNION ALL\n".join(
        f"SELECT {np_} AS nprobe, CAST(count(*) AS BIGINT) AS n_hits,"
        f" round(count(*) / 10.0, 6) AS recall_at_10 "
        f"FROM t{np_} JOIN ex USING (vec_id)" for np_ in _S26_PROBES)
    return f"""
WITH cent AS (
  SELECT label AS cand_label, pos, avg(val) AS avg_val
  FROM (SELECT label, unnest(embedding)::DOUBLE AS val,
               unnest(range(1, 65)) AS pos
        FROM embeddings)
  GROUP BY label, pos
),
qd AS (
  SELECT c.cand_label,
         round(sum((v.val - c.avg_val) * (v.val - c.avg_val)), 9) AS d2
  FROM (SELECT unnest(embedding)::DOUBLE AS val,
               unnest(range(1, 65)) AS pos
        FROM embeddings WHERE vec_id = 0) v
  JOIN cent c ON c.pos = v.pos
  GROUP BY c.cand_label
),
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         round(list_cosine_similarity(e.embedding::DOUBLE[],
                                      qv.q::DOUBLE[]), 6) AS cos
  FROM embeddings e, qv
),
ex AS (SELECT vec_id FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10),
{','.join(tiers)}
{rows}
"""


@q("s26_ivf_nprobe_recall", _s26_sql())
def s26_ivf_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import similarity

    emb = _t(spark, sf_dir, "embeddings")
    qv = similarity.query_vector(emb, 0)
    exact = similarity.cosine_topk(emb, qv, k=10).select("vec_id")
    cents = similarity.label_centroids(emb)
    d2 = F.aggregate(
        F.zip_with("centroid", "_q",
                   lambda c, q: (c - q.cast("double"))
                   * (c - q.cast("double"))),
        F.lit(0.0), lambda a, v: a + v)
    qdist = (cents.crossJoin(F.broadcast(
                qv.select(F.col("q").alias("_q"))))
             .select("label", F.round(d2, 9).alias("_d2")))
    out = None
    for np_ in _S26_PROBES:
        probed = (qdist.orderBy(F.col("_d2").asc(), F.col("label").asc())
                  .limit(np_).select("label"))
        cand = emb.join(F.broadcast(probed), "label")
        ids = similarity.cosine_topk(cand, qv, k=10).select("vec_id")
        row = (ids.join(exact, "vec_id")
               .agg(F.count(F.lit(1)).alias("n_hits"))
               .select(F.lit(np_).alias("nprobe"),
                       F.col("n_hits").cast("long").alias("n_hits"),
                       F.round(F.col("n_hits") / 10.0, 6)
                       .alias("recall_at_10")))
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# MOSS winnowing document fingerprints (dedup.winnow_fingerprints /
# winnow_dup_pairs — Schleimer et al., SIGMOD 2003): char-8-gram
# hashes, window-of-4 minima with the (hash, position) argmin packed
# into one 62-bit integer, shared-fingerprint pair detection under the
# d59 df-cap discipline. The LOCAL fingerprinting guarantee (every
# >= k+w-1 char match shares a selected fingerprint) is what MinHash's
# whole-document signatures can't give — this is the substring-level
# dup detector of the dedup family. Spark computes fingerprints
# entirely map-side in array expressions (no shuffle, no window
# operator, no UDF — one scan at 100 TB); the oracle replays the same
# math through an INDEPENDENT formulation (unnest + SQL window-min
# over packed hashes) so a selection or clipping bug on either side
# reddens the hash. All-integer page: top-20 pairs by shared count
# with full-set denominators and floor-div ppm similarity.
# ---------------------------------------------------------------------------
@q("d60_winnow_dup", """
WITH nrm AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents
),
g AS (
  SELECT doc_id, i,
         CAST(concat('0x', substr(md5(substr(s, CAST(i AS INT), 8)), 1, 10))
              AS BIGINT) * 4194304 + i AS packed
  FROM nrm, unnest(range(1, len(s) - 8 + 2)) r(i)
),
wm AS (
  SELECT doc_id, i,
         min(packed) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         count(*) OVER (PARTITION BY doc_id) AS ng
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id, wmin // 4194304 AS fp
  FROM wm WHERE i <= greatest(ng - 4 + 1, 1)
),
sz AS (SELECT doc_id, count(*) AS nfp FROM fp GROUP BY doc_id),
dfc AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 16),
fpk AS (SELECT fp.* FROM fp JOIN dfc USING (fp)),
p AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
  FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(shared AS BIGINT) AS shared,
       CAST(na.nfp AS BIGINT) AS n_a, CAST(nb.nfp AS BIGINT) AS n_b,
       CAST(shared * 1000000 // least(na.nfp, nb.nfp) AS BIGINT) AS sim_ppm
FROM p JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
ORDER BY shared DESC, a ASC, b ASC LIMIT 20
""")
def d60_winnow_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.dedup import winnow_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = winnow_dup_pairs(docs, k=8, w=4, max_df=16, min_shared=2)
    return (pairs.select(
                F.col("a").cast("long").alias("a"),
                F.col("b").cast("long").alias("b"),
                F.col("shared").cast("long").alias("shared"),
                F.col("n_a").cast("long").alias("n_a"),
                F.col("n_b").cast("long").alias("n_b"),
                F.expr("shared * 1000000 div least(n_a, n_b)")
                .cast("long").alias("sim_ppm"))
            .orderBy(F.col("shared").desc(), F.col("a").asc(),
                     F.col("b").asc())
            .limit(20))


# ---------------------------------------------------------------------------
# Personalized PageRank / random-walk-with-restart
# (graph.personalized_pagerank): sparse seed set (node % 97 == 0) on
# the queen-contiguity customer grid, 3 synchronous rounds of
# ALL-INTEGER rank flow — per-edge floor shares rank div deg, ppm
# damping 850000, restart mass on seeds — the TrustRank-shape seeded
# relevance pass (vetted-seed trust propagation, related-node
# scoring). Like g19/g20, the grid's closed-form edge set lets the
# oracle unroll EVERY round in SQL: no float convention, no golden
# dispatch — a damping or share-floor regression on either side
# reddens the hash. Page: top-20 nodes by final rank mass.
# ---------------------------------------------------------------------------
_G22_ROUND = """
s{i} AS (
  SELECT u.b AS k, sum(r.r // d.deg) AS inm
  FROM und u JOIN r{j} r ON r.k = u.a JOIN deg d ON d.k = u.a
  GROUP BY u.b
),
r{i} AS (
  SELECT n.k, n.seed,
         850000 * coalesce(s.inm, 0) // 1000000
         + n.seed * 150000000 AS r
  FROM n LEFT JOIN s{i} s ON s.k = n.k
)"""


@q("g22_personalized_pagerank", f"""
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
und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
deg AS (SELECT a AS k, count(*) AS deg FROM und GROUP BY a),
n AS (SELECT k, CASE WHEN k % 97 = 0 THEN 1 ELSE 0 END AS seed FROM g),
r0 AS (SELECT k, seed, CAST(seed AS BIGINT) * 1000000000 AS r FROM n),
{_G22_ROUND.format(i=1, j=0)},
{_G22_ROUND.format(i=2, j=1)},
{_G22_ROUND.format(i=3, j=2)}
SELECT CAST(k AS BIGINT) AS node, CAST(seed AS INTEGER) AS is_seed,
       CAST(r AS BIGINT) AS rank_mass
FROM r3 ORDER BY rank_mass DESC, node ASC LIMIT 20
""")
def g22_personalized_pagerank(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.borders_store import (
        customer_borders, customer_nodes)
    from ecmm428_pycart_spark.datapipe.graph import personalized_pagerank

    # borders from the write-once store (round 9, datapipe/borders_store);
    # seed nodes straight from the customer keys — no geometry build.
    borders = customer_borders(spark, sf_dir)
    e = borders.select(F.col("focal").alias("src"),
                       F.col("neighbor").alias("dst"))
    seeds = (customer_nodes(spark, sf_dir)
             .select(F.col("region_idx").alias("node"))
             .filter(F.col("node") % 97 == 0))
    out = personalized_pagerank(e, seeds, rounds=3, alpha_ppm=850000,
                                seed_mass=1_000_000_000)
    return (out.select(F.col("node").cast("long").alias("node"),
                       F.col("is_seed").cast("int").alias("is_seed"),
                       F.col("rank").cast("long").alias("rank_mass"))
            .orderBy(F.col("rank_mass").desc(), F.col("node").asc())
            .limit(20))


# ---------------------------------------------------------------------------
# REAL QOI decode (multimodal.decode_qoi_pixels): the Quite OK Image
# format's full sequential op set — RUN / INDEX / DIFF / LUMA / RGB
# with the 64-slot color index and wraparound diffs — over 17x11
# fixtures whose run-quantized channel algebra forces every op kind
# into one corpus. QOI coding is purely stateful, so the oracle pins
# decoded pixel ALGEBRA: per-source channel sums (the m26/m28
# convention) plus a POSITION-SENSITIVE last-pixel sentinel
# (a*5 + b*10, pinned correct for every doc) that a run off-by-one or
# index miss shifts even when sums survive.
# ---------------------------------------------------------------------------
@q("m31_qoi_pixel_stats", """
WITH p AS (
  SELECT doc_id, source, doc_id % 7 + 1 AS a, doc_id % 5 + 1 AS b
  FROM documents
),
px AS (
  SELECT p.doc_id, p.source,
         sum(CASE WHEN c.c = 0
                  THEN (a * (x.x // 3) + b * y.y) % 256 ELSE 0 END) AS sr,
         sum(CASE WHEN c.c = 1
                  THEN (a * (x.x // 3) + b * y.y + 37) % 256 ELSE 0 END) AS sg,
         sum(CASE WHEN c.c = 2
                  THEN (a * (x.x // 3) + b * y.y + 74) % 256 ELSE 0 END) AS sb
  FROM p, unnest(range(0, 17)) x(x), unnest(range(0, 11)) y(y),
       unnest(range(0, 3)) c(c)
  GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(sr) AS BIGINT) AS total_r,
       CAST(sum(sg) AS BIGINT) AS total_g,
       CAST(sum(sb) AS BIGINT) AS total_b,
       CAST(count(*) * 187 AS BIGINT) AS n_pix,
       CAST(count(*) AS BIGINT) AS n_last_correct
FROM px GROUP BY source
""")
def m31_qoi_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    payload = docs.withColumn(
        "payload", multimodal.synth_qoi_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.qoi_pixel_stats(F.col("payload")))
    return (st.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.sum_r").cast("long").alias("total_r"),
                 F.sum("s.sum_g").cast("long").alias("total_g"),
                 F.sum("s.sum_b").cast("long").alias("total_b"),
                 F.sum("s.n_pix").cast("long").alias("n_pix"),
                 F.sum((F.col("s.last_r")
                        == (F.col("doc_id") % 7 + 1) * 5
                        + (F.col("doc_id") % 5 + 1) * 10).cast("long"))
                 .alias("n_last_correct")))


# ---------------------------------------------------------------------------
# KMV / bottom-k distinct sketch with SET ALGEBRA
# (text.kmv_sketch/kmv_estimates/kmv_pair_stats): the theta-sketch
# capability q102's HLL can't give — merging two bottom-64 sketches
# yields the UNION's sketch exactly, so pairwise Jaccard /
# intersection estimates are pure integer counting (matches out of k,
# floor-div ppm). Word-2-gram vocabularies of sources src0-src3
# (~700 distinct each vs k=64), the full pair matrix: per-side exact
# distinct counts vs sketch estimates, union estimate, matches,
# jaccard_ppm, inter_est — every number BIGINT floor math on 40-bit
# md5 hashes, replayed end-to-end in SQL (build, merge, probe; no
# golden). Spark's bottom-k is two bounded row_number windows (the
# first bucketed by h mod 8 so no sort partition owns a group's
# whole distinct set).
# ---------------------------------------------------------------------------
@q("d61_kmv_distinct", """
WITH t AS (
  SELECT source, string_split(text, ' ') AS w FROM documents
  WHERE source IN ('src0', 'src1', 'src2', 'src3')
),
g AS (
  SELECT DISTINCT source, w[i] || ' ' || w[i+1] AS gram
  FROM t, unnest(range(1, len(w))) r(i)
),
h AS (
  SELECT DISTINCT source,
         CAST(concat('0x', substr(md5(gram), 1, 10)) AS BIGINT) AS h
  FROM g
),
ex AS (SELECT source, count(*) AS n_exact FROM h GROUP BY source),
sk AS (SELECT * FROM (
         SELECT source, h,
                row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         FROM h) WHERE rn <= 64),
e2 AS (SELECT source, 63 * 1099511627776 // max(CASE WHEN rn = 64
                                                THEN h END) AS est
       FROM sk GROUP BY source),
pr AS (SELECT a.source AS a, b.source AS b
       FROM (SELECT DISTINCT source FROM h) a,
            (SELECT DISTINCT source FROM h) b
       WHERE a.source < b.source),
uh AS (SELECT DISTINCT p.a, p.b, s.h
       FROM pr p JOIN sk s ON s.source = p.a OR s.source = p.b),
usk AS (SELECT * FROM (
          SELECT a, b, h,
                 row_number() OVER (PARTITION BY a, b ORDER BY h) AS rn
          FROM uh) WHERE rn <= 64),
uk AS (SELECT a, b, max(CASE WHEN rn = 64 THEN h END) AS union_kth
       FROM usk GROUP BY a, b),
m AS (SELECT u.a, u.b, count(*) AS matches
      FROM usk u
      JOIN sk sa ON sa.source = u.a AND sa.h = u.h
      JOIN sk sb ON sb.source = u.b AND sb.h = u.h
      GROUP BY u.a, u.b)
SELECT uk.a, uk.b,
       CAST(exa.n_exact AS BIGINT) AS n_a_exact,
       CAST(exb.n_exact AS BIGINT) AS n_b_exact,
       CAST(ea.est AS BIGINT) AS est_a,
       CAST(eb.est AS BIGINT) AS est_b,
       CAST(coalesce(m.matches, 0) AS BIGINT) AS matches,
       CAST(63 * 1099511627776 // uk.union_kth AS BIGINT) AS union_est,
       CAST(coalesce(m.matches, 0) * 1000000 // 64 AS BIGINT)
         AS jaccard_ppm,
       CAST(coalesce(m.matches, 0)
            * (63 * 1099511627776 // uk.union_kth) // 64 AS BIGINT)
         AS inter_est
FROM uk
JOIN ex exa ON exa.source = uk.a
JOIN ex exb ON exb.source = uk.b
JOIN e2 ea ON ea.source = uk.a
JOIN e2 eb ON eb.source = uk.b
LEFT JOIN m ON m.a = uk.a AND m.b = uk.b
ORDER BY uk.a, uk.b
""")
def d61_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.dedup import shingle_set
    from ecmm428_pycart_spark.datapipe.text import (kmv_estimates,
                                                    kmv_pair_stats,
                                                    kmv_sketch)

    docs = (_t(spark, sf_dir, "documents")
            .filter(F.col("source").isin("src0", "src1", "src2",
                                         "src3")))
    g = docs.select("source",
                    F.explode(shingle_set(F.col("text"), 2))
                    .alias("gram"))
    ex = (g.select("source",
                   F.conv(F.substring(F.md5("gram"), 1, 10), 16, 10)
                   .cast("long").alias("h")).distinct()
          .groupBy("source").agg(F.count(F.lit(1)).alias("n_exact")))
    sk = kmv_sketch(g, "gram", "source", k=64)
    est = kmv_estimates(sk, k=64)
    pairs = kmv_pair_stats(sk, k=64,
                           groups=["src0", "src1", "src2", "src3"])
    return (pairs
            .join(ex.select(F.col("source").alias("a"),
                            F.col("n_exact").alias("n_a_exact")), "a")
            .join(ex.select(F.col("source").alias("b"),
                            F.col("n_exact").alias("n_b_exact")), "b")
            .join(est.select(F.col("source").alias("a"),
                             F.col("est_distinct").alias("est_a")), "a")
            .join(est.select(F.col("source").alias("b"),
                             F.col("est_distinct").alias("est_b")), "b")
            .select("a", "b",
                    F.col("n_a_exact").cast("long").alias("n_a_exact"),
                    F.col("n_b_exact").cast("long").alias("n_b_exact"),
                    F.col("est_a").cast("long").alias("est_a"),
                    F.col("est_b").cast("long").alias("est_b"),
                    F.col("matches").cast("long").alias("matches"),
                    F.col("union_est").cast("long").alias("union_est"),
                    F.col("jaccard_ppm").cast("long")
                    .alias("jaccard_ppm"),
                    F.col("inter_est").cast("long").alias("inter_est"))
            .orderBy("a", "b"))


# ---------------------------------------------------------------------------
# REAL TIFF walk + baseline decode (multimodal.decode_tiff_gray): the
# tagged-IFD container pattern — typed tag entries with the
# inline-value-when-<=4-bytes rule, StripOffsets/StripByteCounts
# arrays, multi-strip reassembly — over 17x11 grayscale fixtures that
# ALTERNATE II/MM byte order by doc parity, so both endian paths stay
# gate-exercised. The oracle replays the generative pixel algebra
# ((a*x + b*y) % 251 — prime modulus, sums not byte-aligned) and pins
# n_strips = ceil(11/4) = 3 per doc (the IFD walk) plus the last
# pixel (strip ORDER: out-of-order reassembly preserves sums).
# ---------------------------------------------------------------------------
@q("m32_tiff_strip_stats", """
WITH p AS (
  SELECT doc_id, source, doc_id % 7 + 1 AS a, doc_id % 5 + 1 AS b
  FROM documents
),
px AS (
  SELECT p.doc_id, p.source,
         sum((a * x.x + b * y.y) % 251) AS s,
         max(CASE WHEN x.x = 16 AND y.y = 10
                  THEN (a * x.x + b * y.y) % 251 END) AS lp
  FROM p, unnest(range(0, 17)) x(x), unnest(range(0, 11)) y(y)
  GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s) AS BIGINT) AS total_px,
       CAST(count(*) * 187 AS BIGINT) AS n_pix,
       CAST(count(*) * 3 AS BIGINT) AS n_strips,
       CAST(count(*) AS BIGINT) AS n_last_correct
FROM px GROUP BY source
""")
def m32_tiff_strip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    payload = docs.withColumn(
        "payload", multimodal.synth_tiff_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.tiff_pixel_stats(F.col("payload")))
    return (st.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.sum_px").cast("long").alias("total_px"),
                 F.sum("s.n_pix").cast("long").alias("n_pix"),
                 F.sum("s.n_strips").cast("long").alias("n_strips"),
                 F.sum((F.col("s.last_px")
                        == ((F.col("doc_id") % 7 + 1) * 16
                            + (F.col("doc_id") % 5 + 1) * 10) % 251)
                       .cast("long"))
                 .alias("n_last_correct")))


# ---------------------------------------------------------------------------
# Streaming KMV distinct (streaming.stream_kmv_distinct): bottom-64
# md5-hash sketch per event_type maintained in applyInPandasWithState
# (<= 64 longs of state per key). Bottom-k union is order-insensitive
# AND idempotent, so unlike st16's HLL (error-bounded only) the
# streamed sketch is VALUE-deterministic: the oracle replays kth/est
# exactly in batch SQL, plus the exact distinct count and a 35%
# accuracy pin (3x the k=64 rsd; worst observed 29.6% at sf0.1).
# Final state reads back from update-mode emissions by monotonicity
# (max n/est, min nonzero kth). st01's bounded replay harness.
# ---------------------------------------------------------------------------
@q("st18_stream_kmv_distinct", """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
              AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
sk AS (SELECT * FROM (
         SELECT event_type, h,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY h) AS rn
         FROM h) WHERE rn <= 64),
e AS (SELECT event_type, count(*) AS n,
             coalesce(max(CASE WHEN rn = 64 THEN h END), 0) AS kth
      FROM sk GROUP BY event_type),
x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
SELECT x.event_type,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(e.n AS BIGINT) AS n_in_sketch,
       CAST(e.kth AS BIGINT) AS kth,
       CAST(CASE WHEN e.n < 64 THEN e.n
                 ELSE 63 * 1099511627776 // e.kth END AS BIGINT) AS est,
       TRUE AS within_bound
FROM x JOIN e USING (event_type) ORDER BY event_type
""")
def st18_stream_kmv_distinct(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    import uuid

    from ecmm428_pycart_spark.benchmarks.relational import (
        _await_stream, _scratch)
    from ecmm428_pycart_spark.streaming.events import (
        read_events_stream, stream_kmv_distinct,
        write_time_ordered_stream_dir)

    # 3 slices -> 3 micro-batches (maxFilesPerTrigger=1): the state
    # REALLY merges across batches; bottom-k idempotence is what makes
    # the result equal the one-shot batch replay regardless of which
    # slice a user lands in (event_id hash slicing, order-free).
    ev = (_t(spark, sf_dir, "events")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    slices = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
              for i in range(3)]
    d = _scratch("st18_events_")
    write_time_ordered_stream_dir(slices, d)
    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    name = f"st18_{uuid.uuid4().hex[:8]}"
    _await_stream(
        spark,
        stream_kmv_distinct(stream, k=64)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True))
    final = (spark.table(name)
             .groupBy("event_type")
             .agg(F.max("n_in_sketch").alias("n_in_sketch"),
                  F.min(F.when(F.col("kth") > 0, F.col("kth")))
                  .alias("kth"),
                  F.max("est").alias("est")))
    exact = (_t(spark, sf_dir, "events")
             .filter(F.col("user_id").isNotNull())
             .groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n_exact")))
    return (exact.join(final, "event_type")
            .select("event_type",
                    F.col("n_exact").cast("long").alias("n_exact"),
                    F.col("n_in_sketch").cast("long")
                    .alias("n_in_sketch"),
                    F.coalesce("kth", F.lit(0)).cast("long")
                    .alias("kth"),
                    F.col("est").cast("long").alias("est"),
                    (F.abs(F.col("est").cast("double")
                           - F.col("n_exact").cast("double"))
                     <= F.greatest(F.lit(0.35)
                                   * F.col("n_exact").cast("double"),
                                   F.lit(1.0))).alias("within_bound"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (dedup.cdc_chunks): Rabin-Karp
# rolling-hash boundaries (h % 64 == 0 over the trailing
# 16-char window, mod the prime 1000003) — the LBFS/storage-dedup
# segmentation whose cuts depend only on LOCAL content, so insertions
# re-chunk one neighborhood and every downstream chunk survives
# byte-identical (what fixed segments can't do; the sub-document
# complement of d29). Spark computes positions, window sums, cuts and
# chunk slices ENTIRELY map-side in array expressions (the winnowing
# discipline — one scan at 100 TB, shuffle only the chunk-level agg);
# the oracle replays the same B^j-weighted window sums through an
# independent unnest + lag-window chunk assembly, and total_chars is
# recomputed from raw doc lengths — a dropped or duplicated byte in
# the slicing reddens the hash. All-integer per-source page.
# ---------------------------------------------------------------------------
@q("d62_cdc_chunks", """
WITH d AS (SELECT doc_id, source, text AS s, len(text) AS n
           FROM documents),
pos AS (
  SELECT doc_id, i
  FROM d, unnest(range(16, n + 1)) r(i)
  WHERE i < n
    AND (ascii(substr(s, CAST(i - 0 AS INT), 1)) * 1 + ascii(substr(s, CAST(i - 1 AS INT), 1)) * 31 + ascii(substr(s, CAST(i - 2 AS INT), 1)) * 961 + ascii(substr(s, CAST(i - 3 AS INT), 1)) * 29791 + ascii(substr(s, CAST(i - 4 AS INT), 1)) * 923521 + ascii(substr(s, CAST(i - 5 AS INT), 1)) * 629067 + ascii(substr(s, CAST(i - 6 AS INT), 1)) * 501020 + ascii(substr(s, CAST(i - 7 AS INT), 1)) * 531575 + ascii(substr(s, CAST(i - 8 AS INT), 1)) * 478777 + ascii(substr(s, CAST(i - 9 AS INT), 1)) * 842045 + ascii(substr(s, CAST(i - 10 AS INT), 1)) * 103317 + ascii(substr(s, CAST(i - 11 AS INT), 1)) * 202818 + ascii(substr(s, CAST(i - 12 AS INT), 1)) * 287340 + ascii(substr(s, CAST(i - 13 AS INT), 1)) * 907516 + ascii(substr(s, CAST(i - 14 AS INT), 1)) * 132912 + ascii(substr(s, CAST(i - 15 AS INT), 1)) * 120260) % 1000003 % 64 = 0
),
cuts AS (
  SELECT doc_id, 0 AS c FROM d
  UNION ALL SELECT doc_id, i FROM pos
  UNION ALL SELECT doc_id, n FROM d
),
ch AS (
  SELECT doc_id, c AS hi,
         lag(c) OVER (PARTITION BY doc_id ORDER BY c) AS lo
  FROM cuts
),
chunks AS (
  SELECT d.source,
         md5(substr(d.s, CAST(ch.lo + 1 AS INT),
                    CAST(ch.hi - ch.lo AS INT))) AS h,
         ch.hi - ch.lo AS clen
  FROM ch JOIN d USING (doc_id) WHERE ch.lo IS NOT NULL
),
raw AS (SELECT source, sum(n) AS total_chars FROM d GROUP BY source)
SELECT c.source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
       CAST((count(*) - count(DISTINCT h)) * 1000000 // count(*)
            AS BIGINT) AS dup_ppm,
       CAST(sum(clen) * 100 // count(*) AS BIGINT) AS avg_len_x100,
       CAST(max(raw.total_chars) AS BIGINT) AS total_chars,
       (sum(clen) = max(raw.total_chars)) AS bytes_conserved
FROM chunks c JOIN raw ON raw.source = c.source
GROUP BY c.source
""")
def d62_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.dedup import cdc_chunks

    docs = _t(spark, sf_dir, "documents")
    ch = cdc_chunks(docs).join(docs.select("doc_id", "source"),
                               "doc_id")
    raw = (docs.groupBy("source")
           .agg(F.sum(F.length("text")).alias("total_chars")))
    return (ch.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.count_distinct("chunk_md5").alias("n_distinct"),
                 F.sum("chunk_len").alias("_clen"))
            .join(raw, "source")
            .select("source",
                    F.col("n_chunks").cast("long").alias("n_chunks"),
                    F.col("n_distinct").cast("long")
                    .alias("n_distinct"),
                    F.expr("(n_chunks - n_distinct) * 1000000 "
                           "div n_chunks").cast("long")
                    .alias("dup_ppm"),
                    F.expr("_clen * 100 div n_chunks").cast("long")
                    .alias("avg_len_x100"),
                    F.col("total_chars").cast("long")
                    .alias("total_chars"),
                    (F.col("_clen") == F.col("total_chars"))
                    .alias("bytes_conserved")))


# ---------------------------------------------------------------------------
# PII scrubbing (text.scrub_pii): the LIBRARY form of d17's inline
# masking pass, upgraded to the full compliance contract — emails /
# IPv4 / SSN-shaped / phone-shaped spans replaced with TYPED tokens,
# per-category counts, and the n_residual self-audit d17 lacks. Fixture: deterministic PII is
# INJECTED per doc (email always; ip on doc_id%2=0; ssn on %3=0;
# phone on %5=0) so every category and every co-occurrence pattern is
# exercised. The oracle replays counts (on the original), the chained
# replacement, a per-source CONTENT CHECKSUM of the scrubbed texts
# (order-insensitive md5-prefix sum — any byte differing in any
# scrubbed doc reddens the hash), and pins n_residual = 0 (the
# self-audit: nothing PII-shaped survives). Patterns are
# character-class-only so Java regex and RE2 agree (d57 discipline).
# ---------------------------------------------------------------------------
@q("d64_pii_scrub", """
WITH inj AS (
  SELECT source,
         text || ' contact user' || doc_id || '@mail.example.com'
         || CASE WHEN doc_id % 2 = 0
                 THEN ' ip 10.' || doc_id % 256 || '.0.1' ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' ssn 123-45-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' tel 555-123-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS t
  FROM documents
),
sc AS (
  SELECT source,
         len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
           AS n_email,
         len(regexp_extract_all(t,
             '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) AS n_ip,
         len(regexp_extract_all(t, '\\d{3}-\\d{2}-\\d{4}')) AS n_ssn,
         len(regexp_extract_all(t, '\\d{3}-\\d{3}-\\d{4}')) AS n_phone,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
             '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '<IP>', 'g'),
             '\\d{3}-\\d{2}-\\d{4}', '<SSN>', 'g'),
             '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS scrubbed
  FROM inj
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_email) AS BIGINT) AS n_email,
       CAST(sum(n_ip) AS BIGINT) AS n_ip,
       CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
       CAST(sum(n_phone) AS BIGINT) AS n_phone,
       CAST(0 AS BIGINT) AS n_residual,
       CAST(sum(CAST(concat('0x', substr(md5(scrubbed), 1, 12))
                     AS BIGINT)) AS BIGINT) AS scrub_checksum
FROM sc GROUP BY source
""")
def d64_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import scrub_pii

    docs = _t(spark, sf_dir, "documents")
    pad = lambda: F.lpad((F.col("doc_id") % 10000).cast("string"),
                         4, "0")
    injected = docs.select(
        "source",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit(" ip 10."),
                            (F.col("doc_id") % 256).cast("string"),
                            F.lit(".0.1"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" ssn 123-45-"), pad()))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" tel 555-123-"), pad()))
            .otherwise(F.lit(""))).alias("text"))
    sc = scrub_pii(injected)
    return (sc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_email").cast("long").alias("n_email"),
                 F.sum("n_ip").cast("long").alias("n_ip"),
                 F.sum("n_ssn").cast("long").alias("n_ssn"),
                 F.sum("n_phone").cast("long").alias("n_phone"),
                 F.sum("n_residual").cast("long").alias("n_residual"),
                 F.sum(F.conv(F.substring(F.md5("scrubbed"), 1, 12),
                              16, 10).cast("long"))
                 .cast("long").alias("scrub_checksum")))


# ---------------------------------------------------------------------------
# Integer audio decimation (multimodal.wav_decimate2_stats): boxcar
# decimate-by-2 — y[i] = floor((x[2i] + x[2i+1]) / 2) — over REAL
# decoded 16-bit PCM, with signed ramp fixtures that cross zero so
# floor-vs-truncate on negative pairs is genuinely exercised (numpy
# // and DuckDB // both floor; Spark's `div` truncates and is
# deliberately absent from this path). The oracle replays sample
# synthesis AND the pair-mean fold in SQL; last_out is the
# pair-ALIGNMENT sentinel (a one-sample phase slip preserves smooth
# sums but shifts the final pair).
# ---------------------------------------------------------------------------
@q("m33_wav_decimate", """
WITH p AS (
  SELECT doc_id, source, doc_id % 100 + 20 AS half, doc_id % 7 AS _x
  FROM documents
),
y AS (
  SELECT t.doc_id, t.source, t.half,
         -- floor division: DuckDB // TRUNCATES on negatives (Python
         -- and numpy floor), so make the numerator even first
         (pair - ((pair % 2) + 2) % 2) // 2 AS v,
         t.i
  FROM (SELECT p.doc_id, p.source, p.half, i.i,
               ((11 * (2*i.i) + 5 * doc_id) % 2001 - 1000
                + (11 * (2*i.i + 1) + 5 * doc_id) % 2001 - 1000) AS pair
        FROM p, unnest(range(0, half)) i(i)) t
),
d AS (
  SELECT doc_id, source, max(half) AS half,
         sum(v) AS sum_out, max(abs(v)) AS peak_out,
         max(CASE WHEN i = half - 1 THEN v END) AS last_out
  FROM y GROUP BY doc_id, source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(half) * 2 AS BIGINT) AS n_in,
       CAST(sum(half) AS BIGINT) AS n_out,
       CAST(sum(sum_out) AS BIGINT) AS sum_out,
       CAST(max(peak_out) AS BIGINT) AS peak_out,
       CAST(sum(last_out) AS BIGINT) AS last_sum
FROM d GROUP BY source
""")
def m33_wav_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    st = (docs.withColumn(
              "payload",
              multimodal.synth_wav_ramp_payload(F.col("doc_id")))
          .withColumn("s",
                      multimodal.wav_decimate2_stats(F.col("payload"))))
    return (st.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.n_in").cast("long").alias("n_in"),
                 F.sum("s.n_out").cast("long").alias("n_out"),
                 F.sum("s.sum_out").cast("long").alias("sum_out"),
                 F.max("s.peak_out").cast("long").alias("peak_out"),
                 F.sum("s.last_out").cast("long").alias("last_sum")))


# ---------------------------------------------------------------------------
# Streaming Bloom decontamination (dedup.bloom_build/bloom_prefilter
# on a STREAM): the 100 TB ingest pattern — a banned-key Bloom bitmap
# built batch-side ((word, bits) rows, broadcastable far beyond the
# key set) rejects events MAP-SIDE inside the stream (k broadcast
# word-lookups per event; no stream-static join state, no shuffle),
# with the exact broadcast confirm behind it so false positives never
# reach the output (the d35 discipline). The oracle pins the Bloom
# CONTRACT rather than its hash internals: every banned event must
# survive the prefilter — the streamed confirmed-banned count equals
# the exact batch count per event_type (a false negative anywhere
# makes it fall short). Multi-batch replay (3 hash slices).
# ---------------------------------------------------------------------------
@q("st19_stream_bloom_filter", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN user_id % 17 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_banned,
       CAST(sum(CASE WHEN user_id % 17 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_banned_streamed,
       TRUE AS bloom_no_false_neg
FROM events WHERE user_id IS NOT NULL
GROUP BY event_type ORDER BY event_type
""")
def st19_stream_bloom_filter(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    import uuid

    from ecmm428_pycart_spark.benchmarks.relational import (
        _await_stream, _scratch)
    from ecmm428_pycart_spark.datapipe.dedup import (bloom_build,
                                                     bloom_prefilter)
    from ecmm428_pycart_spark.streaming.events import (
        read_events_stream, write_time_ordered_stream_dir)

    ev = (_t(spark, sf_dir, "events")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    banned = (ev.filter(F.col("user_id").isNotNull()
                        & (F.col("user_id") % 17 == 0))
              .select(F.col("user_id").cast("string").alias("k"))
              .distinct())
    bloom = bloom_build(banned, "k")
    slices = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
              for i in range(3)]
    d = _scratch("st19_events_")
    write_time_ordered_stream_dir(slices, d)
    stream = (read_events_stream(spark, d, max_files_per_trigger=1)
              .filter(F.col("user_id").isNotNull())
              .withColumn("k", F.col("user_id").cast("string")))
    possible = bloom_prefilter(stream, "k", bloom)
    confirmed = possible.join(F.broadcast(banned), "k", "left_semi")
    name = f"st19_{uuid.uuid4().hex[:8]}"
    _await_stream(
        spark,
        confirmed.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_banned_streamed"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    streamed = spark.table(name)
    batch = (ev.filter(F.col("user_id").isNotNull())
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum((F.col("user_id") % 17 == 0).cast("long"))
                  .alias("n_banned")))
    return (batch.join(streamed, "event_type", "left")
            .select("event_type",
                    F.col("n_events").cast("long").alias("n_events"),
                    F.col("n_banned").cast("long").alias("n_banned"),
                    F.coalesce("n_banned_streamed", F.lit(0))
                    .cast("long").alias("n_banned_streamed"),
                    (F.coalesce("n_banned_streamed", F.lit(0))
                     == F.col("n_banned")).alias("bloom_no_false_neg"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# LSH parameter sweep (the S-curve tuning harness, s24/s26's dedup
# sibling): the SAME 8-hash MinHash signature banded three ways —
# (8 bands x 1 row), (4 x 2), (2 x 4) — with per-tier candidate
# counts and recall against the exact-Jaccard >= 0.5 truth set
# computed over the UNION of all tiers' candidates (relative recall:
# the all-pairs truth is exactly what LSH exists to avoid, and the
# union is the production tuning protocol). More rows per band =
# sharper S-curve = fewer candidates and lower recall at fixed
# threshold; the sweep makes that trade gate-checkable. Oracle
# replays all three bandings, the union, and the Jaccard verify in
# SQL (d05/d06's proven minhash SQL, parametrized per tier).
# ---------------------------------------------------------------------------
def _d65_sql():
    from ecmm428_pycart_spark.datapipe import dedup as _dd

    minhash_aggs = ",\n       ".join(
        f"min(md5('{s}:' || sh)) AS mh{s}"
        for s in range(_dd.NUM_HASHES))
    parts = [f"""
WITH sig AS (
SELECT doc_id,
       {minhash_aggs}
FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS sh
      FROM documents)
GROUP BY doc_id
)"""]
    tiers = [(8, 1), (4, 2), (2, 4)]
    for nb, rpb in tiers:
        bands = "\n  UNION ALL\n".join(
            "  SELECT doc_id, {b} AS band, md5({cols}) AS band_key FROM sig"
            .format(b=b, cols=" || '|' || ".join(
                f"mh{b * rpb + r}" for r in range(rpb)))
            for b in range(nb))
        parts.append(f"""
bk{nb}0 AS (
{bands}
),
bk{nb} AS (
  SELECT doc_id, band, band_key FROM bk{nb}0
  QUALIFY count(*) OVER (PARTITION BY band, band_key)
          <= {_dd.MAX_BUCKET_SIZE}
),
cand{nb} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk{nb} a JOIN bk{nb} b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)""")
    sql = ",".join(parts) + f""",
uni AS (SELECT doc_a, doc_b FROM cand8
        UNION SELECT doc_a, doc_b FROM cand4
        UNION SELECT doc_a, doc_b FROM cand2),
sets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
  FROM documents
),
truth AS (
  SELECT doc_a, doc_b FROM (
    SELECT u.doc_a, u.doc_b,
           round(len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
                 / (len(sa.s) + len(sb.s)
                    - len(list_filter(sa.s, x -> list_contains(sb.s, x)))),
                 4) AS j
    FROM uni u
    JOIN sets sa ON sa.doc_id = u.doc_a
    JOIN sets sb ON sb.doc_id = u.doc_b
  ) WHERE j >= 0.5
),
nt AS (SELECT count(*) AS n_truth FROM truth)
"""
    rows = []
    for nb, rpb in tiers:
        rows.append(f"""
SELECT CAST({nb} AS BIGINT) AS bands,
       CAST({rpb} AS BIGINT) AS rows_per_band,
       CAST((SELECT count(*) FROM cand{nb}) AS BIGINT) AS n_candidates,
       CAST(nt.n_truth AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM cand{nb} c JOIN truth t
             ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS BIGINT)
         AS n_hit,
       CAST((SELECT count(*) FROM cand{nb} c JOIN truth t
             ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1000000
            // greatest(nt.n_truth, 1) AS BIGINT) AS recall_ppm
FROM nt""")
    return sql + "\nUNION ALL\n".join(rows) + "\nORDER BY bands DESC"


@q("d65_lsh_tuning_sweep", _d65_sql())
def d65_lsh_tuning_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import dedup

    docs = _t(spark, sf_dir, "documents")
    tiers = [(8, 1), (4, 2), (2, 4)]
    cands = {nb: dedup.lsh_candidate_pairs(docs, num_bands=nb)
             for nb, _ in tiers}
    uni = (cands[8].unionByName(cands[4]).unionByName(cands[2])
           .distinct())
    truth = (dedup.jaccard_pairs(docs, uni, threshold=0.5)
             .select("doc_a", "doc_b"))
    out = None
    for nb, rpb in tiers:
        hit = cands[nb].join(truth, ["doc_a", "doc_b"])
        row = (cands[nb].agg(F.count(F.lit(1)).alias("n_candidates"))
               .crossJoin(F.broadcast(
                   truth.agg(F.count(F.lit(1)).alias("n_truth"))))
               .crossJoin(F.broadcast(
                   hit.agg(F.count(F.lit(1)).alias("n_hit"))))
               .select(F.lit(nb).cast("long").alias("bands"),
                       F.lit(rpb).cast("long").alias("rows_per_band"),
                       F.col("n_candidates").cast("long")
                       .alias("n_candidates"),
                       F.col("n_truth").cast("long").alias("n_truth"),
                       F.col("n_hit").cast("long").alias("n_hit"),
                       F.expr("n_hit * 1000000 "
                              "div greatest(n_truth, 1)").cast("long")
                       .alias("recall_ppm")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.col("bands").desc())


# ---------------------------------------------------------------------------
# Embedding-space diagnostics WITHOUT the pair join (the sum-vector
# identity): sum_{i<>j} <x_i, x_j> = |sum_i x_i|^2 - sum_i |x_i|^2,
# so per-label mean pairwise inner product — the isotropy /
# mode-collapse monitor every embedding pipeline tracks — costs one
# (label, dim) aggregate instead of O(n^2) pairs; THAT is the 100 TB
# trick this entry gate-checks. Components are floor-quantized to
# 1e-4 BEFORE any aggregation (floor of the identical double is
# engine-deterministic, unlike float sums whose ORDER differs), so
# every number — norms, centroid norm, the identity, the truncated
# mean — is exact BIGINT on both sides. The possibly-negative mean
# uses Spark `div` vs DuckDB `//`, which BOTH truncate toward zero
# (numpy floors — the m33 trap, inverted).
# ---------------------------------------------------------------------------
@q("s27_embedding_diagnostics", """
WITH q AS (
  SELECT label, vec_id, pos,
         CAST(floor(val::DOUBLE * 10000) AS BIGINT) AS xq
  FROM (SELECT label, vec_id, unnest(embedding) AS val,
               unnest(range(1, 65)) AS pos
        FROM embeddings)
),
vn AS (SELECT label, vec_id, sum(xq * xq) AS n2
       FROM q GROUP BY label, vec_id),
dimsum AS (SELECT label, pos, sum(xq) AS s FROM q GROUP BY label, pos),
agg AS (
  SELECT v.label,
         count(*) AS n_vecs,
         sum(v.n2) AS sum_norm2,
         max(c.c2) AS centroid_norm2
  FROM vn v JOIN (SELECT label, sum(s * s) AS c2
                  FROM dimsum GROUP BY label) c USING (label)
  GROUP BY v.label
)
SELECT label,
       CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(sum_norm2 AS BIGINT) AS sum_norm2,
       CAST(centroid_norm2 AS BIGINT) AS centroid_norm2,
       CAST((centroid_norm2 - sum_norm2)
            // (n_vecs * (n_vecs - 1)) AS BIGINT) AS mean_pair_dot
FROM agg ORDER BY label
""")
def s27_embedding_diagnostics(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.select("label", "vec_id",
                    F.posexplode("embedding").alias("pos", "val"))
         .select("label", "vec_id", "pos",
                 F.floor(F.col("val").cast("double") * 10000)
                 .cast("long").alias("xq")))
    vn = (q.groupBy("label", "vec_id")
          .agg(F.sum(F.expr("xq * xq")).alias("n2")))
    c2 = (q.groupBy("label", "pos").agg(F.sum("xq").alias("s"))
          .groupBy("label").agg(F.sum(F.expr("s * s")).alias("c2")))
    return (vn.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum("n2").alias("sum_norm2"))
            .join(c2, "label")
            .select(F.col("label"),
                    F.col("n_vecs").cast("long").alias("n_vecs"),
                    F.col("sum_norm2").cast("long").alias("sum_norm2"),
                    F.col("c2").cast("long").alias("centroid_norm2"),
                    F.expr("(c2 - sum_norm2) div (n_vecs * (n_vecs - 1))")
                    .cast("long").alias("mean_pair_dot"))
            .orderBy("label"))


# ---------------------------------------------------------------------------
# Mixed-media sniff + dispatch (multimodal.detect_media_type /
# mixed_media_stats): ONE binary column carrying four real formats
# (QOI / BMP / WAV / TIFF, routed by doc_id % 4 with both TIFF byte
# orders in rotation) — the honest ingest shape: a media crawl does
# not arrive pre-sorted, so magic-byte sniffing IS the decode
# dispatch. The oracle recomputes each format's generative algebra
# per (source, media_type) cell; a sniffing bug routes a format to
# the wrong decoder and no cell survives.
# ---------------------------------------------------------------------------
@q("m34_mixed_media_dispatch", """
WITH p AS (
  SELECT doc_id, source, doc_id % 7 + 1 AS a, doc_id % 5 + 1 AS b,
         doc_id % 4 AS kind
  FROM documents
),
qoi AS (
  SELECT p.doc_id, p.source, 'qoi' AS mt, 187 AS units,
         sum((a * (x.x // 3) + b * y.y + 37 * c.c) % 256) AS sv
  FROM p, unnest(range(0, 17)) x(x), unnest(range(0, 11)) y(y),
       unnest(range(0, 3)) c(c)
  WHERE kind = 0 GROUP BY 1, 2
),
bmp AS (
  SELECT p.doc_id, p.source, 'bmp' AS mt, 187 AS units,
         sum((a * x.x + b * y.y + 37 * c.c) % 256) AS sv
  FROM p, unnest(range(0, 17)) x(x), unnest(range(0, 11)) y(y),
       unnest(range(0, 3)) c(c)
  WHERE kind = 1 GROUP BY 1, 2
),
wav AS (
  SELECT p.doc_id, p.source, 'wav' AS mt,
         2 * (doc_id % 100 + 20) AS units,
         sum((11 * j.j + 5 * doc_id) % 2001 - 1000) AS sv
  FROM p, unnest(range(0, 2 * (doc_id % 100 + 20))) j(j)
  WHERE kind = 2 GROUP BY 1, 2, 4
),
tif AS (
  SELECT p.doc_id, p.source, 'tiff' AS mt, 187 AS units,
         sum((a * x.x + b * y.y) % 251) AS sv
  FROM p, unnest(range(0, 17)) x(x), unnest(range(0, 11)) y(y)
  WHERE kind = 3 GROUP BY 1, 2
),
u AS (SELECT * FROM qoi UNION ALL SELECT * FROM bmp
      UNION ALL SELECT * FROM wav UNION ALL SELECT * FROM tif)
SELECT source, mt AS media_type,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(units) AS BIGINT) AS n_units,
       CAST(sum(sv) AS BIGINT) AS sum_val
FROM u GROUP BY source, mt ORDER BY source, media_type
""")
def m34_mixed_media_dispatch(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    st = (docs.withColumn(
              "payload",
              multimodal.synth_mixed_payload(F.col("doc_id")))
          .withColumn("s",
                      multimodal.mixed_media_stats(F.col("payload"))))
    return (st.groupBy("source", F.col("s.media_type")
                       .alias("media_type"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.n_units").cast("long").alias("n_units"),
                 F.sum("s.sum_val").cast("long").alias("sum_val"))
            .orderBy("source", "media_type"))


# ---------------------------------------------------------------------------
# Bipartite co-purchase projection (graph.bipartite_project): the
# graph-CONSTRUCTION step the grid-graph queries skip — build the
# part-part affinity graph from the REAL fact tables (customer buys
# part via orders x lineitem), weight = distinct co-purchasing
# customers, with the max_src_degree basket cap bounding the wedge
# join (one mega-basket mints C(d,2) pairs; capped baskets carry no
# affinity signal exactly where they explode). Top-20 all-integer
# page with deterministic (weight desc, a, b) order; the oracle
# replays the incidence distinct, the cap and the wedge join in SQL.
# ---------------------------------------------------------------------------
@q("g25_copurchase_graph", """
WITH inc AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS v
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
deg AS (SELECT u, count(*) AS d FROM inc GROUP BY u),
kept AS (SELECT inc.* FROM inc JOIN deg USING (u) WHERE deg.d <= 40),
p AS (
  SELECT a.v AS a, b.v AS b, count(*) AS weight
  FROM kept a JOIN kept b ON a.u = b.u AND a.v < b.v
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(weight AS BIGINT) AS weight
FROM p ORDER BY weight DESC, a ASC, b ASC LIMIT 20
""")
def g25_copurchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.graph import bipartite_project

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    inc = (orders.join(li, orders.o_orderkey == li.l_orderkey)
           .select(F.col("o_custkey").alias("u"),
                   F.col("l_partkey").alias("v")))
    g = bipartite_project(inc, max_src_degree=40, min_weight=2)
    return (g.select(F.col("a").cast("long").alias("a"),
                     F.col("b").cast("long").alias("b"),
                     F.col("weight").cast("long").alias("weight"))
            .orderBy(F.col("weight").desc(), F.col("a").asc(),
                     F.col("b").asc())
            .limit(20))


# ---------------------------------------------------------------------------
# Homoglyph-evasion dedup recovery (text.homoglyph_normalize /
# homoglyph_count): deterministic Cyrillic spoofing is INJECTED into
# every doc_id % 7 == 0 doc (translate a/e/o/p/c/x to their Cyrillic
# confusables — the spam/SEO evasion that breaks byte-level dedup),
# then the d50-style unique-count measurement runs on BOTH the
# spoofed corpus and its confusable-normalized form: exact dedup
# must RECOVER on the normalized side (n_unique_norm <= n_unique_raw,
# with the planted exact-dup pairs collapsing again). Counts, spoof
# totals and both unique counts replay in SQL with the identical
# codepoint literals (translate is codepoint-wise in both engines).
# ---------------------------------------------------------------------------
@q("d66_homoglyph_dedup", """
WITH sp AS (
  SELECT source, doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN translate(text, 'aeopcx', 'аеорсх') ELSE text
         END AS t
  FROM documents
),
n AS (
  SELECT source, doc_id, t,
         translate(t, 'аеорсхуο', 'aeopcxyo') AS norm,
         len(regexp_replace(t, '[^аеорсхуο]', '', 'g'))
           AS n_conf
  FROM sp
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_spoofed,
       CAST(sum(n_conf) AS BIGINT) AS n_confusable_chars,
       CAST(count(DISTINCT md5(t)) AS BIGINT) AS n_unique_raw,
       CAST(count(DISTINCT md5(norm)) AS BIGINT) AS n_unique_norm
FROM n GROUP BY source
""")
def d66_homoglyph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import (homoglyph_count,
                                                    homoglyph_normalize)

    docs = _t(spark, sf_dir, "documents")
    sp = docs.select(
        "source", "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.translate(F.col("text"), "aeopcx", "аеорсх"))
        .otherwise(F.col("text")).alias("t"))
    n = (sp.withColumn("norm", homoglyph_normalize(F.col("t")))
         .withColumn("n_conf", homoglyph_count(F.col("t"))))
    return (n.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("doc_id") % 7 == 0).cast("long"))
                 .alias("n_spoofed"),
                 F.sum("n_conf").cast("long")
                 .alias("n_confusable_chars"),
                 F.countDistinct(F.md5("t")).alias("n_unique_raw"),
                 F.countDistinct(F.md5("norm"))
                 .alias("n_unique_norm")))


# ---------------------------------------------------------------------------
# Streaming approximate median vs batch truth (st16's quantile
# sibling, closing the sketch triptych: HLL distinct st16, KMV st18,
# quantiles here): percentile_approx(value, 0.5) maintained UNDER
# streaming state across a real 3-micro-batch replay. Quantile
# sketch merges are NOT slice-deterministic (unlike st18's bottom-k),
# so the oracle pins the CONTRACT, not the value: the streamed
# estimate's exact batch rank must sit within n/100 + 1 of the true
# median rank (10x the configured 1/1000 accuracy, the q101 slack),
# alongside the exact integer-cents median computed by an explicit
# sort-and-pick both engines state identically.
# ---------------------------------------------------------------------------
@q("st20_stream_approx_median", """
WITH v AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_rows,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END)
            AS BIGINT) AS exact_med_cents,
       TRUE AS within_bound
FROM r GROUP BY event_type ORDER BY event_type
""")
def st20_stream_approx_median(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    import uuid

    from ecmm428_pycart_spark.benchmarks.relational import (
        _await_stream, _scratch)
    from ecmm428_pycart_spark.streaming.events import (
        read_events_stream, write_time_ordered_stream_dir)

    ev = (_t(spark, sf_dir, "events")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    slices = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
              for i in range(3)]
    d = _scratch("st20_events_")
    write_time_ordered_stream_dir(slices, d)
    stream = (read_events_stream(spark, d, max_files_per_trigger=1)
              .filter(F.col("value").isNotNull()))
    name = f"st20_{uuid.uuid4().hex[:8]}"
    _await_stream(
        spark,
        stream.groupBy("event_type")
        .agg(F.percentile_approx("value", 0.5, 1000).alias("est"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True))
    est = spark.table(name)
    v = (_t(spark, sf_dir, "events")
         .filter(F.col("value").isNotNull())
         .select("event_type",
                 F.floor(F.col("value") * 100).cast("long")
                 .alias("cents")))
    from pyspark.sql import Window as W
    r = (v.withColumn("rn", F.row_number().over(
            W.partitionBy("event_type").orderBy("cents")))
         .withColumn("n", F.count(F.lit(1)).over(
            W.partitionBy("event_type"))))
    exact = (r.groupBy("event_type")
             .agg(F.max("n").alias("n_rows"),
                  F.max(F.when(F.col("rn")
                               == F.expr("(n + 1) div 2"),
                               F.col("cents")).otherwise(None)
                        .cast("long")).alias("exact_med_cents")))
    ranks = (v.join(est, "event_type")
             .groupBy("event_type")
             .agg(F.sum((F.col("cents")
                         < F.floor(F.col("est") * 100)).cast("long"))
                  .alias("n_lt"),
                  F.sum((F.col("cents")
                         <= F.floor(F.col("est") * 100)).cast("long"))
                  .alias("n_le")))
    return (exact.join(ranks, "event_type")
            .select("event_type",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.col("exact_med_cents").cast("long")
                    .alias("exact_med_cents"),
                    ((F.col("n_lt")
                      <= F.col("n_rows") / 2 + F.col("n_rows") / 100 + 1)
                     & (F.col("n_le")
                        >= F.col("n_rows") / 2 - F.col("n_rows") / 100 - 1))
                    .alias("within_bound"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Referential-integrity audit (the data-quality sweep a warehouse
# runs before trusting joins): for every FK relation in the schema,
# the child row count, orphaned child keys (no parent — breaks inner
# joins silently), and childless parents (dead dimension rows). Pure
# anti-join/semi-join counts; dims broadcast, facts shuffle once per
# relation — the audit costs what the joins it protects cost. Six
# relations, one row each, all-integer.
# ---------------------------------------------------------------------------
_Q104_RELS = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
]


def _q104_sql():
    rows = []
    for name, child, ck, parent, pk in _Q104_RELS:
        rows.append(f"""
SELECT '{name}' AS relation,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM {child} c
             WHERE c.{ck} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{ck})) AS BIGINT)
         AS n_orphans,
       CAST((SELECT count(*) FROM {parent} p
             WHERE NOT EXISTS (SELECT 1 FROM {child} c
                               WHERE c.{ck} = p.{pk})) AS BIGINT)
         AS n_childless_parents""")
    return "\nUNION ALL\n".join(rows) + "\nORDER BY relation"


@q("q104_fk_integrity", _q104_sql())
def q104_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for name, child, ck, parent, pk in _Q104_RELS:
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent)
        orphans = (c.filter(F.col(ck).isNotNull())
                   .join(p.select(F.col(pk).alias(ck)), ck,
                         "left_anti"))
        childless = p.join(c.select(F.col(ck).alias(pk)).distinct(),
                           pk, "left_anti")
        row = (c.agg(F.count(F.lit(1)).alias("n_child"))
               .crossJoin(F.broadcast(
                   orphans.agg(F.count(F.lit(1)).alias("n_orphans"))))
               .crossJoin(F.broadcast(
                   childless.agg(F.count(F.lit(1))
                                 .alias("n_childless_parents"))))
               .select(F.lit(name).alias("relation"),
                       F.col("n_child").cast("long").alias("n_child"),
                       F.col("n_orphans").cast("long")
                       .alias("n_orphans"),
                       F.col("n_childless_parents").cast("long")
                       .alias("n_childless_parents")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relation")


# ---------------------------------------------------------------------------
# Column profiler (the data-quality sibling of q104): per-column
# null counts, exact distinct cardinality, and min/max rendered
# through TYPE-AWARE canonicalization — integers verbatim, money as
# floor cents, timestamps through DATE — because raw double/timestamp
# to-string formatting is where cross-engine profiles silently
# diverge. One row per profiled orders column, long format (the
# shape a catalog ingests); each column's profile is one aggregate
# pass, unioned.
# ---------------------------------------------------------------------------
_Q105_COLS = [("o_orderkey", "int"), ("o_custkey", "int"),
              ("o_orderstatus", "str"), ("o_totalprice", "cents"),
              ("o_orderdate", "date"), ("o_orderpriority", "str")]


def _q105_sql():
    rows = []
    for col, kind in _Q105_COLS:
        if kind == "int":
            mn, mx = (f"CAST(min({col}) AS VARCHAR)",
                      f"CAST(max({col}) AS VARCHAR)")
        elif kind == "cents":
            mn = f"CAST(CAST(min(floor({col} * 100)) AS BIGINT) AS VARCHAR)"
            mx = f"CAST(CAST(max(floor({col} * 100)) AS BIGINT) AS VARCHAR)"
        elif kind == "date":
            mn = f"CAST(CAST(min({col}) AS DATE) AS VARCHAR)"
            mx = f"CAST(CAST(max({col}) AS DATE) AS VARCHAR)"
        else:
            mn, mx = f"min({col})", f"max({col})"
        rows.append(f"""
SELECT '{col}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({col}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
       {mn} AS min_repr, {mx} AS max_repr
FROM orders""")
    return "\nUNION ALL\n".join(rows) + "\nORDER BY column_name"


@q("q105_column_profile", _q105_sql())
def q105_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    out = None
    for col, kind in _Q105_COLS:
        c = F.col(col)
        if kind == "int":
            mn = F.min(c).cast("string")
            mx = F.max(c).cast("string")
        elif kind == "cents":
            mn = F.min(F.floor(c * 100)).cast("long").cast("string")
            mx = F.max(F.floor(c * 100)).cast("long").cast("string")
        elif kind == "date":
            mn = F.min(c).cast("date").cast("string")
            mx = F.max(c).cast("date").cast("string")
        else:
            mn, mx = F.min(c), F.max(c)
        row = orders.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            mn.alias("min_repr"), mx.alias("max_repr")).select(
            F.lit(col).alias("column_name"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_nulls").cast("long").alias("n_nulls"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "min_repr", "max_repr")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# SRT subtitle parsing (text.srt_cues): SubRip is how speech/video
# corpora ship transcripts, and this pipeline parses it with NATIVE
# expressions only (block split + posexplode + one timecode regex +
# integer ms arithmetic — codegen, no UDF). The fixture builds a
# 3-cue SRT per doc IN-PLAN (lpad'ed HH:MM:SS,mmm from the ms
# formulas), the parser recovers cues, and the oracle recomputes
# durations / max end / sequence validity / a text checksum straight
# from the generative formulas — construction and parse never share
# code, so a formatting or regex bug on either side reddens the
# hash.
# ---------------------------------------------------------------------------
@q("m35_srt_parse", """
WITH cue AS (
  SELECT d.doc_id, d.source, c.c,
         (doc_id % 50) * 3700 + c.c * 40000 AS start_ms,
         500 + (doc_id % 7) * 100 + c.c * 10 AS dur
  FROM documents d, unnest(range(0, 3)) c(c)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_cues,
       CAST(sum(dur) AS BIGINT) AS total_dur_ms,
       CAST(max(start_ms + dur) AS BIGINT) AS max_end_ms,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(sum(CAST(concat('0x',
                substr(md5('cue ' || c || ' of doc ' || doc_id),
                       1, 12)) AS BIGINT)) AS BIGINT) AS text_checksum
FROM cue GROUP BY source
""")
def m35_srt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import srt_cues

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")

    def fmt(ms):
        return F.concat(
            F.lit("00:"),
            F.lpad(F.expr(f"CAST(({ms}) div 60000 AS STRING)"), 2, "0"),
            F.lit(":"),
            F.lpad(F.expr(f"CAST((({ms}) % 60000) div 1000 AS STRING)"),
                   2, "0"),
            F.lit(","),
            F.lpad(F.expr(f"CAST(({ms}) % 1000 AS STRING)"), 3, "0"))

    blocks = []
    for c in range(3):
        s = f"(doc_id % 50) * 3700 + {c * 40000}"
        e = f"{s} + 500 + (doc_id % 7) * 100 + {c * 10}"
        blocks.append(F.concat(
            F.lit(f"{c + 1}\n"), fmt(s), F.lit(" --> "), fmt(e),
            F.lit(f"\ncue {c} of doc "),
            F.col("doc_id").cast("string"), F.lit("\n\n")))
    srt = docs.withColumn("srt", F.concat(*blocks))
    cues = srt_cues(srt).join(docs, "doc_id")
    valid = (F.col("start_ms").isNotNull()
             & F.col("end_ms").isNotNull()
             & (F.col("end_ms") > F.col("start_ms"))
             & (F.col("seq") == F.col("cue_idx") + 1))
    return (cues.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_cues"),
                 F.sum(F.col("end_ms") - F.col("start_ms"))
                 .cast("long").alias("total_dur_ms"),
                 F.max("end_ms").cast("long").alias("max_end_ms"),
                 F.sum(valid.cast("long")).alias("n_valid"),
                 F.sum(F.conv(F.substring(F.md5("text"), 1, 12),
                              16, 10).cast("long"))
                 .cast("long").alias("text_checksum")))


# ---------------------------------------------------------------------------
# Faceted retrieval (similarity.grouped_cosine_topk): exact top-3 by
# cosine vs the query WITHIN every label — the per-facet diversity
# quota serving layers blend (a global top-k returns one dominant
# facet). One broadcast + map-side scoring + a label-partitioned
# row_number window, never a global sort. The s-family determinism
# contract (rounded cosine, id tiebreak); the oracle replays scoring
# and the per-label QUALIFY in SQL.
# ---------------------------------------------------------------------------
@q("s28_faceted_topk", """
WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.label, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[],
                                      qv.q::DOUBLE[]), 6) AS cos
  FROM embeddings e, qv
)
SELECT CAST(label AS BIGINT) AS label, CAST(rnk AS BIGINT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, cos
FROM (SELECT label, vec_id, cos,
             row_number() OVER (PARTITION BY label
                                ORDER BY cos DESC, vec_id ASC) AS rnk
      FROM scored)
WHERE rnk <= 3 ORDER BY label, rank
""")
def s28_faceted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import similarity

    emb = _t(spark, sf_dir, "embeddings")
    qv = similarity.query_vector(emb, 0)
    out = similarity.grouped_cosine_topk(emb, qv, k=3)
    return (out.select(F.col("label").cast("long").alias("label"),
                       F.col("rank").cast("long").alias("rank"),
                       F.col("vec_id").cast("long").alias("vec_id"),
                       "cos")
            .orderBy("label", "rank"))
