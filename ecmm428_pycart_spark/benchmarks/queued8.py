"""Round-8 registration queue — overflow of benchmarks/queued7.py,
which is hard-capped at 48 entries (round 7 defers it whole into
round 8's 50-slot gate window next to the two rotation sentinels).
Entries here follow the identical contract — oracle beside the
query, the tests/test_queued8_queries.py gate replica, scalar
outputs, plan guards — and register in round 8 by the same
mechanical recipe (collect module, defer to round 9). queued7 holds
3 deliberately-spare slots for round-6/7 discoveries; prefer those
first for anything urgent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ecmm428_pycart_spark.session import checkpoint
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
# Sorted-neighborhood dedup blocking (dedup.sorted_neighborhood_
# pairs — Hernandez & Stolfo 1995, the third blocking family next
# to minhash-LSH banding and simhash byte-bands): simhash
# fingerprints blocked by their low byte, sorted within block, each
# doc paired with its 3 predecessors — candidates O(n * window) by
# construction, partitioned windows only. The gate rolls candidate
# and hamming<=6 verified counts up by block%16 next to the block
# populations; the oracle replays the identical lag windows over
# the ONE shared simhash SQL definition.
# ---------------------------------------------------------------------------
def _d80_sql():
    from ecmm428_pycart_spark.benchmarks.datapipe_queries import (
        _SIMHASH_SQL)
    lag_cols = ",\n         ".join(
        f"lag(doc_id, {k}) OVER w AS i{k}, "
        f"lag(simhash, {k}) OVER w AS f{k}" for k in (1, 2, 3))
    unions = "\n  UNION ALL\n".join(
        f"  SELECT blk, bit_count(xor(f{k}, simhash)) AS ham "
        f"FROM lagd WHERE i{k} IS NOT NULL" for k in (1, 2, 3))
    return f"""
WITH sim AS ({_SIMHASH_SQL}),
s2 AS (SELECT doc_id, simhash, simhash & 255 AS blk FROM sim),
lagd AS (
  SELECT doc_id, simhash, blk,
         {lag_cols}
  FROM s2 WINDOW w AS (PARTITION BY blk ORDER BY simhash, doc_id)
),
p AS (
{unions}
),
docs AS (SELECT blk % 16 AS bucket, count(*) AS n_docs
         FROM s2 GROUP BY 1),
pp AS (
  SELECT blk % 16 AS bucket, count(*) AS n_cand,
         sum(CASE WHEN ham <= 6 THEN 1 ELSE 0 END) AS n_verified,
         sum(ham) AS ham_sum
  FROM p GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(n_cand, 0) AS BIGINT) AS n_cand,
       CAST(coalesce(n_verified, 0) AS BIGINT) AS n_verified,
       CAST(coalesce(ham_sum, 0) AS BIGINT) AS ham_sum
FROM docs LEFT JOIN pp USING (bucket) ORDER BY bucket
"""


@q("d80_sorted_neighborhood", None)
def d80_sorted_neighborhood(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import dedup

    sim = dedup.simhash(_t(spark, sf_dir, "documents"))
    pairs = dedup.sorted_neighborhood_pairs(sim, window=3,
                                            block_bits=8)
    docs = (sim.groupBy((F.col("simhash").bitwiseAND(255) % 16)
                        .alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs")))
    pp = (pairs.groupBy((F.col("block") % 16).alias("bucket"))
          .agg(F.count(F.lit(1)).alias("n_cand"),
               F.sum((F.col("hamming") <= 6).cast("long"))
               .alias("n_verified"),
               F.sum("hamming").alias("ham_sum")))
    return (docs.join(pp, "bucket", "left")
            .select(F.col("bucket").cast("long").alias("bucket"),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.coalesce("n_cand", F.lit(0)).cast("long")
                    .alias("n_cand"),
                    F.coalesce("n_verified", F.lit(0)).cast("long")
                    .alias("n_verified"),
                    F.coalesce("ham_sum", F.lit(0)).cast("long")
                    .alias("ham_sum"))
            .orderBy("bucket"))


ORACLES["d80_sorted_neighborhood"] = _d80_sql()


# ---------------------------------------------------------------------------
# Moran's I spatial autocorrelation, raw integer moments (Moran
# 1950 — the is-this-map-clustered statistic every spatial engine
# ships, on the cartogram heritage's queen grid): region value
# x = (k*7) % 100, deviations n-scaled to stay integer
# (d_i = n*x_i - sum x), and the page carries the four raw moments
# n, W (directed edge count), sum over edges of d_i*d_j (negative
# for dispersed maps — never divided), and sum of d_i^2; Moran's
# I = (n * sum_w) / (W * sum_d2) is left to the reader because the
# full products overflow int64 at sf0.1 — the g31 discipline taken
# one step further. Oracle = the g32 closed-form grid.
# ---------------------------------------------------------------------------
@q("g35_morans_i", """
WITH p AS (
  SELECT CAST(ceiling(sqrt(count(*))) AS BIGINT) AS side,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c_custkey * 7 % 100) AS BIGINT) AS sx
  FROM customer
),
g AS (
  SELECT c_custkey AS k, c_custkey % side AS gx,
         c_custkey // side AS gy,
         n * (c_custkey * 7 % 100) - sx AS d
  FROM customer, p
),
e AS (
  SELECT a.d AS da, b.d AS db
  FROM g a JOIN g b
    ON (a.k < b.k AND abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1)
),
m AS (
  SELECT CAST(2 * count(*) AS BIGINT) AS w_directed,
         CAST(2 * sum(da * db) AS BIGINT) AS sum_w_didj
  FROM e
),
s AS (SELECT CAST(sum(d * d) AS BIGINT) AS sum_d2,
             CAST(count(*) AS BIGINT) AS n_nodes FROM g)
SELECT n_nodes, w_directed, sum_w_didj, sum_d2 FROM s, m
""")
def g35_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.operators.borders import get_borders

    grid = _customer_grid(spark, sf_dir).drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    und = borders.select(F.col("focal").alias("a"),
                         F.col("neighbor").alias("b"))
    cust = _t(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("k"),
                (F.col("c_custkey") * 7 % 100).alias("x"))
    tot = cust.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("sx"))
    d = (cust.crossJoin(tot)
         .select("k", (F.col("n") * F.col("x") - F.col("sx"))
                 .alias("d")))
    e = (und.join(d.select(F.col("k").alias("a"),
                           F.col("d").alias("da")), "a")
         .join(d.select(F.col("k").alias("b"),
                        F.col("d").alias("db")), "b"))
    m = e.agg(F.count(F.lit(1)).cast("long").alias("w_directed"),
              F.sum(F.col("da") * F.col("db")).cast("long")
              .alias("sum_w_didj"))
    s = d.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
              F.sum(F.col("d") * F.col("d")).cast("long")
              .alias("sum_d2"))
    return s.crossJoin(m).select("n_nodes", "w_directed",
                                 "sum_w_didj", "sum_d2")


# ---------------------------------------------------------------------------
# Calendar dimension join (the Kimball date-dim pattern every
# warehouse model starts from): a generated day spine from min to
# max order date (explode(sequence) — the dimension is BUILT, not
# scanned), orders left-joined onto it so zero-order days still
# count, rolled up by (quarter, day-of-week). Convention note baked
# into the oracle: DuckDB dayofweek is Sunday=0, Spark's Sunday=1 —
# the +1 is the contract. Revenue in exact BIGINT cents.
# ---------------------------------------------------------------------------
@q("q119_date_dimension", """
WITH r AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS lo,
         CAST(max(o_orderdate) AS DATE) AS hi
  FROM orders
),
dim AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
  FROM r
),
dim2 AS (
  SELECT d, dayofweek(d) + 1 AS dow, quarter(d) AS q FROM dim
),
o AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
)
SELECT CAST(q AS BIGINT) AS quarter,
       CAST(dow AS BIGINT) AS dow,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(coalesce(n, 0)) AS BIGINT) AS n_orders,
       CAST(sum(coalesce(cents, 0)) AS BIGINT) AS revenue_cents
FROM dim2 LEFT JOIN o USING (d)
GROUP BY q, dow ORDER BY quarter, dow
""")
def q119_date_dimension(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    r = orders.agg(F.min(F.to_date("o_orderdate")).alias("lo"),
                   F.max(F.to_date("o_orderdate")).alias("hi"))
    dim = r.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    dim2 = dim.select("d", F.dayofweek("d").alias("dow"),
                      F.quarter("d").alias("q"))
    o = (orders.select(F.to_date("o_orderdate").alias("d"),
                       F.round(F.col("o_totalprice") * 100)
                       .cast("long").alias("cents"))
         .groupBy("d")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("cents").alias("cents")))
    j = dim2.join(o, "d", "left")
    return (j.groupBy("q", "dow")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum(F.coalesce("n", F.lit(0))).alias("n_orders"),
                 F.sum(F.coalesce("cents", F.lit(0)))
                 .alias("revenue_cents"))
            .select(F.col("q").cast("long").alias("quarter"),
                    F.col("dow").cast("long").alias("dow"),
                    F.col("n_days").cast("long").alias("n_days"),
                    F.col("n_orders").cast("long").alias("n_orders"),
                    F.col("revenue_cents").cast("long")
                    .alias("revenue_cents"))
            .orderBy("quarter", "dow"))


# ---------------------------------------------------------------------------
# G.711 mu-law encode -> WAV -> decode roundtrip (multimodal.ulaw_
# compress closing the pair with m29's expansion): a closed-form
# integer sawtooth per doc runs through the REAL compressor, the
# fmt-7 WAV container, and the real decoder; the oracle replays the
# ENTIRE compress->expand chain in SQL (bias, CASE-segment exponent,
# mantissa shift, re-expansion) over generate_series — the companding
# math itself is the thing being cross-checked, sample by sample.
# ---------------------------------------------------------------------------
@q("m45_ulaw_roundtrip", """
WITH s AS (
  SELECT d.doc_id, d.source,
         ((d.doc_id % 7 + 1) * (t.i + 1) * 37) % 60001 - 30000 AS x
  FROM documents d, unnest(range(0, 128)) t(i)
),
c AS (
  SELECT doc_id, source, x,
         least(abs(x), 32635) + 132 AS mag
  FROM s
),
e AS (
  SELECT doc_id, source, x, mag,
         CASE WHEN mag < 256 THEN 0 WHEN mag < 512 THEN 1
              WHEN mag < 1024 THEN 2 WHEN mag < 2048 THEN 3
              WHEN mag < 4096 THEN 4 WHEN mag < 8192 THEN 5
              WHEN mag < 16384 THEN 6 ELSE 7 END AS exp
  FROM c
),
v AS (
  SELECT source,
         CASE WHEN x < 0
              THEN 132 - (132 + ((mag >> (exp + 3)) & 15) * 8)
                   * (1 << exp)
              ELSE (132 + ((mag >> (exp + 3)) & 15) * 8)
                   * (1 << exp) - 132 END AS sample
  FROM e
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(sample) AS BIGINT) AS s_sum,
       CAST(min(sample) AS BIGINT) AS s_min,
       CAST(max(sample) AS BIGINT) AS s_max
FROM v GROUP BY source ORDER BY source
""")
def m45_ulaw_roundtrip(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    payload = docs.withColumn(
        "payload",
        multimodal.synth_ulaw_wav_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.ulaw_roundtrip_stats(F.col("payload")))
    return (st.groupBy("source")
            .agg(F.sum("s.n_samples").cast("long").alias("n_samples"),
                 F.sum("s.s_sum").cast("long").alias("s_sum"),
                 F.min("s.s_min").cast("long").alias("s_min"),
                 F.max("s.s_max").cast("long").alias("s_max"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Euler-characteristic topology audit of the spatial substrate
# (V - E + F = 2, Euler 1758 — the planarity/connectivity invariant
# a geo layer can assert about itself): the customer grid under
# ROOK adjacency (4-neighborhood — planar by construction, unlike
# queen's crossing diagonals), edges and unit-square faces counted
# by existence joins against the actual node set (NOT closed-form
# arithmetic — the point is to audit the construction), and the
# characteristic V - E + (squares + outer face) pinned to exactly 2.
# The side length reaches the grid as the documented 1-row
# broadcast.
# ---------------------------------------------------------------------------
@q("g36_euler_audit", """
WITH p AS (
  SELECT CAST(ceiling(sqrt(count(*))) AS BIGINT) AS side FROM customer
),
g AS (
  SELECT c_custkey AS k, c_custkey % side AS gx, side
  FROM customer, p
),
ks AS (SELECT k FROM g),
h AS (
  SELECT a.k FROM g a JOIN ks b ON b.k = a.k + 1
  WHERE a.gx < a.side - 1
),
v AS (SELECT a.k FROM g a JOIN ks b ON b.k = a.k + a.side),
sq AS (
  SELECT a.k FROM g a
  JOIN ks r ON r.k = a.k + 1
  JOIN ks d ON d.k = a.k + a.side
  JOIN ks dr ON dr.k = a.k + a.side + 1
  WHERE a.gx < a.side - 1
),
c AS (
  SELECT (SELECT count(*) FROM ks) AS n_nodes,
         (SELECT count(*) FROM h) + (SELECT count(*) FROM v)
           AS n_edges,
         (SELECT count(*) FROM sq) AS n_squares
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_squares AS BIGINT) AS n_squares,
       CAST(n_nodes - n_edges + n_squares + 1 AS BIGINT)
         AS euler_char
FROM c
""")
def g36_euler_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("k"))
    p = cust.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long")
                 .alias("side"))
    g = (cust.crossJoin(p)
         .select("k", (F.col("k") % F.col("side")).alias("gx"),
                 "side"))
    ks = g.select(F.col("k").alias("k2"))
    h = (g.filter(F.col("gx") < F.col("side") - 1)
         .join(ks, F.col("k2") == F.col("k") + 1))
    v = g.join(ks, F.col("k2") == F.col("k") + F.col("side"))
    sq = (g.filter(F.col("gx") < F.col("side") - 1)
          .join(ks.select(F.col("k2").alias("r")),
                F.col("r") == F.col("k") + 1)
          .join(ks.select(F.col("k2").alias("d")),
                F.col("d") == F.col("k") + F.col("side"))
          .join(ks.select(F.col("k2").alias("dr")),
                F.col("dr") == F.col("k") + F.col("side") + 1))
    nn = cust.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = (h.agg(F.count(F.lit(1)).alias("nh"))
          .crossJoin(v.agg(F.count(F.lit(1)).alias("nv")))
          .select((F.col("nh") + F.col("nv")).alias("n_edges")))
    nsq = sq.agg(F.count(F.lit(1)).alias("n_squares"))
    return (nn.crossJoin(ne).crossJoin(nsq)
            .select(F.col("n_nodes").cast("long").alias("n_nodes"),
                    F.col("n_edges").cast("long").alias("n_edges"),
                    F.col("n_squares").cast("long")
                    .alias("n_squares"),
                    (F.col("n_nodes") - F.col("n_edges")
                     + F.col("n_squares") + 1).cast("long")
                    .alias("euler_char")))


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (the evaluation page for d03's
# stopword classifier against the corpus's ground-truth lang
# column — the accuracy audit a pipeline runs before trusting a
# filter routed by predicted language): confusion cells plus both
# marginals (true-language and predicted-language totals, key-equi
# joins of dimension-sized tables), recall/precision left as ppm
# floor divisions per cell. The prediction SQL is REUSED verbatim
# from d03's oracle (one definition), wrapped as a subquery.
# ---------------------------------------------------------------------------
def _d81_sql():
    from ecmm428_pycart_spark.benchmarks.datapipe_queries import (
        ORACLES as _DQ_ORACLES)
    return f"""
WITH base AS ({_DQ_ORACLES["d03_lang_id"]}),
cells AS (
  SELECT lang, pred_lang, count(*) AS n
  FROM base GROUP BY 1, 2
),
lt AS (SELECT lang, count(*) AS lang_total FROM base GROUP BY 1),
pt AS (SELECT pred_lang, count(*) AS pred_total
       FROM base GROUP BY 1)
SELECT c.lang, c.pred_lang,
       CAST(c.n AS BIGINT) AS n_docs,
       CAST(lt.lang_total AS BIGINT) AS lang_total,
       CAST(pt.pred_total AS BIGINT) AS pred_total,
       CAST(c.n * 1000000 // lt.lang_total AS BIGINT) AS recall_ppm,
       CAST(c.n * 1000000 // pt.pred_total AS BIGINT)
         AS precision_ppm
FROM cells c JOIN lt USING (lang) JOIN pt USING (pred_lang)
ORDER BY lang, pred_lang
"""


@q("d81_lang_confusion", None)
def d81_lang_confusion(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import text

    base = text.lang_id(_t(spark, sf_dir, "documents")) \
        .select("lang", "pred_lang")
    cells = (base.groupBy("lang", "pred_lang")
             .agg(F.count(F.lit(1)).alias("n")))
    lt = base.groupBy("lang").agg(F.count(F.lit(1))
                                  .alias("lang_total"))
    pt = base.groupBy("pred_lang").agg(F.count(F.lit(1))
                                       .alias("pred_total"))
    return (cells.join(lt, "lang").join(pt, "pred_lang")
            .select("lang", "pred_lang",
                    F.col("n").cast("long").alias("n_docs"),
                    F.col("lang_total").cast("long")
                    .alias("lang_total"),
                    F.col("pred_total").cast("long")
                    .alias("pred_total"),
                    F.expr("n * 1000000 div lang_total").cast("long")
                    .alias("recall_ppm"),
                    F.expr("n * 1000000 div pred_total").cast("long")
                    .alias("precision_ppm"))
            .orderBy("lang", "pred_lang"))


ORACLES["d81_lang_confusion"] = _d81_sql()


# ---------------------------------------------------------------------------
# Native session_window sessionization (API-surface coverage: the
# engine's built-in session aggregation, which merges events whose
# gap is <= the duration — verified to share q100's strict->gap
# boundary, an exactly-1800s gap stays one session): per user the
# session count, event total, the largest session and total active
# seconds (last - first per session), all from ONE groupBy on
# (user, session_window) — no lag windows, no fold; the oracle is
# the lag-based sessionization chain proving both formulations
# agree row for row.
# ---------------------------------------------------------------------------
@q("q120_native_session_window", """
WITH ev AS (
  SELECT user_id, ts FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS nf
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(nf) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS sid
  FROM flagged
),
per AS (
  SELECT user_id, sid, count(*) AS n,
         CAST(floor(epoch(max(ts))) - floor(epoch(min(ts)))
              AS BIGINT) AS dur
  FROM sess GROUP BY user_id, sid
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(max(n) AS BIGINT) AS max_session_events,
       CAST(sum(dur) AS BIGINT) AS active_seconds
FROM per GROUP BY user_id ORDER BY user_id
""")
def q120_native_session_window(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull())
          .select("user_id", F.col("ts").cast("timestamp")
                  .alias("ts")))
    per = (ev.groupBy("user_id",
                      F.session_window("ts", "30 minutes"))
           .agg(F.count(F.lit(1)).alias("n"),
                (F.unix_timestamp(F.max("ts"))
                 - F.unix_timestamp(F.min("ts"))).alias("dur")))
    return (per.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum("n").alias("n_events"),
                 F.max("n").alias("max_session_events"),
                 F.sum("dur").alias("active_seconds"))
            .select(F.col("user_id").cast("long").alias("user_id"),
                    F.col("n_sessions").cast("long")
                    .alias("n_sessions"),
                    F.col("n_events").cast("long").alias("n_events"),
                    F.col("max_session_events").cast("long")
                    .alias("max_session_events"),
                    F.col("active_seconds").cast("long")
                    .alias("active_seconds"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# Chunking losslessness audit (the inverse proof for d20's sliding-
# window chunker — the property a training pipeline silently relies
# on: overlapping chunks reassemble to EXACTLY the original
# document): chunk inline with the d20 geometry (window 50, stride
# 40), keep each chunk's NEW tokens (the whole first chunk; from
# index window-stride onward for the rest — empty when a short tail
# chunk adds nothing, which slice() yields naturally), reassemble
# per doc in chunk order, and md5-match against the original text.
# The oracle only states the original fingerprints (closed form) —
# the reassembly equaling them IS the audit. All native array ops,
# one doc-keyed shuffle.
# ---------------------------------------------------------------------------
@q("d82_chunk_reassembly", """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_match,
       CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT
                % 1000000000) AS BIGINT) AS fp_sum
FROM documents GROUP BY source ORDER BY source
""")
def d82_chunk_reassembly(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import tokens

    window, stride = 50, 40
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("orig_md5"),
        tokens(F.col("text")).alias("_toks"))
    chunked = (docs
               .withColumn("_n", F.size("_toks"))
               .withColumn("start", F.explode(F.sequence(
                   F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)),
                   F.lit(stride))))
               .filter(F.col("start") < F.col("_n")))
    chunk = F.slice("_toks", F.col("start") + 1, window)
    new_toks = F.when(F.col("start") == 0, chunk).otherwise(
        F.slice(chunk, window - stride + 1, stride))
    parts = chunked.select(
        "doc_id", "source", "orig_md5",
        (F.col("start") / stride).cast("int").alias("idx"),
        new_toks.alias("new_toks"))
    re_ = (parts.groupBy("doc_id", "source", "orig_md5")
           .agg(F.array_sort(F.collect_list(
               F.struct("idx", "new_toks"))).alias("_ps"))
           .withColumn("rebuilt", F.concat_ws(" ", F.flatten(
               F.expr("transform(_ps, p -> p.new_toks)")))))
    return (re_.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.md5("rebuilt") == F.col("orig_md5"))
                       .cast("long")).alias("n_match"),
                 F.sum(F.conv(F.substring(F.md5("rebuilt"), 1, 15),
                              16, 10).cast("long") % 1000000000)
                 .alias("fp_sum"))
            .select("source",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("n_match").cast("long").alias("n_match"),
                    F.col("fp_sum").cast("long").alias("fp_sum"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# ZIP with DEFLATE members (multimodal.zip_bytes_mixed /
# decode_zip_members — completing m30's STORE-only manifest walk):
# each doc becomes a two-member archive (text DEFLATEd + a STOREd
# metadata member carrying the doc_id digits), decoded back through
# the central-directory walk with method-8 payloads routed through
# the repo's own inflate and CRC-checked by the table-driven
# CRC-32; stdlib zipfile independently reads the same archives in
# the hand test. The gate pins member counts, decoded text bytes +
# fingerprints, and the metadata member's value sum — all closed
# form on the original table.
# ---------------------------------------------------------------------------
@q("m46_zip_deflate_roundtrip", """
SELECT source,
       CAST(2 * count(*) AS BIGINT) AS n_members,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT
                % 1000000000) AS BIGINT) AS fp_sum,
       CAST(sum(doc_id) AS BIGINT) AS meta_sum
FROM documents GROUP BY source
""")
def m46_zip_deflate_roundtrip(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text")
    payload = docs.withColumn(
        "payload",
        multimodal.synth_zip_deflate_payload(F.col("text"),
                                             F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.zip_deflate_stats(F.col("payload")))
    return (st.groupBy("source")
            .agg(F.sum("s.n_members").cast("long").alias("n_members"),
                 F.sum("s.n_bytes").cast("long").alias("total_bytes"),
                 F.sum(F.col("s.fp") % 1000000000).cast("long")
                 .alias("fp_sum"),
                 F.sum("s.meta_val").cast("long").alias("meta_sum")))


# ---------------------------------------------------------------------------
# Streaming CDC with tombstones (streaming.read_cdc_state on top of
# the st07 foreachBatch append sink — the WHEN MATCHED ... DELETE
# half every MERGE needs): a running per-user aggregation in update
# mode appends one (user, totals, op) row per touched batch, where
# op turns into a tombstone when the running event count lands on
# n % 7 == 3; the read side takes each user's LATEST batch and
# drops tombstoned keys entirely. Batch ids equal event_id % 3 by
# the time-ordered slice construction, and each user's final
# emission carries their GLOBAL totals (their last batch saw their
# last event), so the whole state machine replays closed-form: the
# oracle is one per-user aggregate + the same op rule.
# ---------------------------------------------------------------------------
@q("st23_stream_cdc_tombstones", """
WITH u AS (
  SELECT user_id, count(*) AS n_events,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
f AS (
  SELECT user_id, n_events, cents,
         CASE WHEN n_events % 7 = 3 THEN 1 ELSE 0 END AS dead
  FROM u
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(1 - dead) AS BIGINT) AS n_live,
       CAST(sum(dead) AS BIGINT) AS n_tombstoned,
       CAST(sum(CASE WHEN dead = 0 THEN n_events ELSE 0 END)
            AS BIGINT) AS live_events,
       CAST(sum(CASE WHEN dead = 0 THEN cents ELSE 0 END)
            AS BIGINT) AS live_cents
FROM f
""")
def st23_stream_cdc_tombstones(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    import uuid

    from ecmm428_pycart_spark.benchmarks.relational import (
        _await_stream, _scratch)
    from ecmm428_pycart_spark.streaming.events import (
        foreach_batch_upsert_writer, read_cdc_state,
        read_events_stream, write_time_ordered_stream_dir)

    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
          .withColumn("ts", F.col("ts").cast("timestamp")))
    slices = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
              for i in range(3)]
    src = _scratch("st23_events_")
    sink = _scratch("st23_state_")
    write_time_ordered_stream_dir(slices, src)
    stream = read_events_stream(spark, src, max_files_per_trigger=1) \
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
    agg = (stream.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long"))
                .alias("cents"))
           .withColumn("op", F.when(F.col("n_events") % 7 == 3,
                                    F.lit("delete"))
                       .otherwise(F.lit("upsert"))))
    q_ = (agg.writeStream.foreachBatch(
        foreach_batch_upsert_writer(sink))
        .outputMode("update")
        .option("checkpointLocation", _scratch("st23_ckpt_"))
        .trigger(availableNow=True))
    _await_stream(spark, q_)
    live = read_cdc_state(spark, sink, ["user_id"])
    # every user ever emitted appears in the sink; no argmax needed
    n_users = (spark.read.parquet(sink)
               .agg(F.countDistinct("user_id").alias("n_users")))
    stats = live.agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum("n_events").alias("live_events"),
        F.sum("cents").alias("live_cents"))
    return (n_users.crossJoin(stats)
            .select(F.col("n_users").cast("long").alias("n_users"),
                    F.col("n_live").cast("long").alias("n_live"),
                    (F.col("n_users") - F.col("n_live")).cast("long")
                    .alias("n_tombstoned"),
                    F.col("live_events").cast("long")
                    .alias("live_events"),
                    F.col("live_cents").cast("long")
                    .alias("live_cents")))


# ---------------------------------------------------------------------------
# Exact raw-moment profile (the distribution-shape audit a column
# profiler runs beyond mean/variance — skewness and kurtosis
# without a single float): per return flag the first four raw
# power sums of the integer quantity column (bounded 1..50, so
# sum(x^4) stays comfortably inside int64 at any scale factor — the
# overflow arithmetic is part of the page's contract). Central
# moments, skewness and kurtosis are exact rational functions of
# (n, s1..s4); the division stays with the reader per the g31/g35
# discipline. One partial-aggregating groupBy.
# ---------------------------------------------------------------------------
@q("q121_moment_profile", """
SELECT l_returnflag AS flag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(q) AS BIGINT) AS s1,
       CAST(sum(q * q) AS BIGINT) AS s2,
       CAST(sum(q * q * q) AS BIGINT) AS s3,
       CAST(sum(q * q * q * q) AS BIGINT) AS s4
FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem)
GROUP BY l_returnflag ORDER BY flag
""")
def q121_moment_profile(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    q_ = F.col("l_quantity").cast("long")
    base = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), q_.alias("q"))
    return (base.groupBy("flag")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("q").cast("long").alias("s1"),
                 F.sum(F.col("q") * F.col("q")).cast("long")
                 .alias("s2"),
                 F.sum(F.col("q") * F.col("q") * F.col("q"))
                 .cast("long").alias("s3"),
                 F.sum(F.col("q") * F.col("q") * F.col("q")
                       * F.col("q")).cast("long").alias("s4"))
            .orderBy("flag"))


# ---------------------------------------------------------------------------
# Robots-exclusion crawl filtering (text.robots_filter — RFC 9309
# longest-match: the per-URL admission decision every crawl
# pipeline runs before fetching): synthetic paths exercising plain
# disallows, a longer allow carving a hole in a disallowed subtree,
# the prefix-not-directory subtlety (/tmpx beating /tmp), and the
# equal-length allow-wins tie; rules are a constant broadcast
# dimension so the corpus never shuffles for the match. The gate is
# the per-(winning rule, verdict) admission accounting.
# ---------------------------------------------------------------------------
_D83_RULES = ("(1, 'disallow', '/private'), "
              "(2, 'allow', '/private/pub'), "
              "(3, 'disallow', '/tmp'), "
              "(4, 'allow', '/tmpx'), "
              "(5, 'disallow', '/dup'), (6, 'allow', '/dup')")
_D83_PATH = """CASE doc_id % 6
  WHEN 0 THEN '/private/doc' || doc_id % 10
  WHEN 1 THEN '/private/pub/doc' || doc_id % 10
  WHEN 2 THEN '/tmp/cache' || doc_id % 10
  WHEN 3 THEN '/tmpxtra/doc' || doc_id % 10
  WHEN 4 THEN '/dup/page' || doc_id % 10
  ELSE '/public/p' || doc_id % 5 END"""


@q("d83_robots_filter", f"""
WITH u AS (SELECT doc_id, {_D83_PATH} AS path FROM documents),
r(rule_id, rtype, prefix) AS (VALUES {_D83_RULES}),
j AS (
  SELECT u.doc_id, u.path, r.rule_id, r.rtype,
         len(r.prefix) AS plen
  FROM u LEFT JOIN r ON starts_with(u.path, r.prefix)
),
w AS (
  SELECT doc_id, path, rule_id, rtype, plen,
         row_number() OVER (PARTITION BY path, doc_id
                            ORDER BY plen DESC NULLS LAST,
                            (rtype = 'allow') DESC NULLS LAST,
                            rule_id ASC NULLS LAST) AS rn
  FROM j
)
SELECT CAST(coalesce(rule_id, 0) AS BIGINT) AS rule_id,
       coalesce(rtype = 'allow', TRUE) AS allowed,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(coalesce(plen, 0)) AS BIGINT) AS matched_len_sum
FROM w WHERE rn = 1
GROUP BY 1, 2 ORDER BY rule_id
""")
def d83_robots_filter(spark: SparkSession,
                      sf_dir: str) -> DataFrame:
    from pyspark.sql import Row

    from ecmm428_pycart_spark.datapipe.text import robots_filter

    rules = spark.createDataFrame(
        [Row(rule_id=1, rtype="disallow", prefix="/private"),
         Row(rule_id=2, rtype="allow", prefix="/private/pub"),
         Row(rule_id=3, rtype="disallow", prefix="/tmp"),
         Row(rule_id=4, rtype="allow", prefix="/tmpx"),
         Row(rule_id=5, rtype="disallow", prefix="/dup"),
         Row(rule_id=6, rtype="allow", prefix="/dup")])
    u = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_D83_PATH).alias("path"))
    out = robots_filter(u, rules)
    return (out.groupBy("rule_id", "allowed")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("matched_len").alias("matched_len_sum"))
            .select(F.col("rule_id").cast("long").alias("rule_id"),
                    "allowed",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("matched_len_sum").cast("long")
                    .alias("matched_len_sum"))
            .orderBy("rule_id"))


# ---------------------------------------------------------------------------
# Percent-of-parent contribution rollup (the drill-down page every
# BI layer renders: each nation's share of its region's revenue,
# each region's share of the world): two grains computed as plain
# partial aggregates, shares joined upward as exact ppm floor
# divisions — no window over the fact table, the parent totals are
# dimension-sized joins. Revenue in exact BIGINT cents through the
# customer -> orders chain with dims broadcast.
# ---------------------------------------------------------------------------
@q("q122_percent_of_parent", """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
),
reg AS (SELECT region, sum(cents) AS r_cents FROM rev GROUP BY 1),
tot AS (SELECT sum(cents) AS t_cents FROM rev)
SELECT rev.region, rev.nation,
       CAST(rev.cents AS BIGINT) AS cents,
       CAST(rev.cents * 1000000 // reg.r_cents AS BIGINT)
         AS share_of_region_ppm,
       CAST(reg.r_cents * 1000000 // tot.t_cents AS BIGINT)
         AS region_share_ppm
FROM rev JOIN reg USING (region), tot
ORDER BY region, nation
""")
def q122_percent_of_parent(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
                  o.o_custkey == F.col("c_custkey"))
           .join(F.broadcast(n.select("n_nationkey", "n_name",
                                      "n_regionkey")),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(r.select("r_regionkey", "r_name")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .groupBy(F.col("r_name").alias("region"),
                    F.col("n_name").alias("nation"))
           .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                      .cast("long")).alias("cents")))
    reg = rev.groupBy("region").agg(F.sum("cents").alias("r_cents"))
    tot = rev.agg(F.sum("cents").alias("t_cents"))
    return (rev.join(reg, "region").crossJoin(tot)
            .select("region", "nation",
                    F.col("cents").cast("long").alias("cents"),
                    F.expr("cents * 1000000 div r_cents")
                    .cast("long").alias("share_of_region_ppm"),
                    F.expr("r_cents * 1000000 div t_cents")
                    .cast("long").alias("region_share_ppm"))
            .orderBy("region", "nation"))


# ---------------------------------------------------------------------------
# netpbm P5/P6 roundtrip (multimodal.pnm_encode/pnm_decode — the
# zero-dependency raster interchange format, mixed per doc: P6 RGB
# on even ids, P5 gray on odd): pixels follow the closed form
# v(y,x,c) = ((id%11+1)*(3x+y) + 7c) % 256 over a 12x17 raster, so
# the oracle expands the SAME formula per parity over
# generate_series; the y-weighted checksum catches transpositions.
# ---------------------------------------------------------------------------
@q("m47_pnm_roundtrip", """
WITH g AS (
  SELECT d.doc_id, d.source, y.i AS y, x.i AS x, c.i AS c
  FROM documents d,
       unnest(range(0, 12)) y(i),
       unnest(range(0, 17)) x(i),
       unnest(range(0, 3)) c(i)
  WHERE d.doc_id % 2 = 0 OR c.i = 0
),
v AS (
  SELECT source, y,
         ((doc_id % 11 + 1) * (3 * x + y)
          + CASE WHEN doc_id % 2 = 0 THEN 7 * c ELSE 0 END)
           % 256 AS val
  FROM g
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(val) AS BIGINT) AS pix_sum,
       CAST(sum(val * (y + 1)) % 1000000000 AS BIGINT) AS yw_sum
FROM v GROUP BY source ORDER BY source
""")
def m47_pnm_roundtrip(spark: SparkSession,
                      sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    payload = docs.withColumn(
        "payload", multimodal.synth_pnm_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.pnm_pixel_stats(F.col("payload")))
    return (st.groupBy("source")
            .agg(F.sum("s.n_pixels").cast("long").alias("n_pixels"),
                 F.sum("s.pix_sum").cast("long").alias("pix_sum"),
                 (F.sum("s.yw_sum") % 1000000000).cast("long")
                 .alias("yw_sum"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Registrable-domain (eTLD+1) site grouping (text.registrable_domain
# — the publicsuffix.org longest-suffix rule; per-HOST grouping
# over-splits sites, so every crawler keys politeness and dedup
# state on eTLD+1): synthetic hosts exercising multi-label public
# suffixes (co.uk beating uk), a private-registry suffix
# (github.io beating io), a host that IS a suffix (no registrable
# part), and an unmatched TLD. Constant broadcast suffix list; the
# gate is the per-registrable site census.
# ---------------------------------------------------------------------------
_D84_HOST = """CASE doc_id % 6
  WHEN 0 THEN 'www.shop' || doc_id % 3 || '.com'
  WHEN 1 THEN 'blog.example' || doc_id % 2 || '.co.uk'
  WHEN 2 THEN 'user' || doc_id % 3 || '.github.io'
  WHEN 3 THEN 'a.b.example.ac.uk'
  WHEN 4 THEN 'co.uk'
  ELSE 'node' || doc_id % 2 || '.unmatched.zz' END"""
_D84_SFX = ("('com'), ('org'), ('uk'), ('co.uk'), ('ac.uk'), "
            "('github.io'), ('io')")


@q("d84_registrable_domain", f"""
WITH u AS (SELECT doc_id, {_D84_HOST} AS host FROM documents),
s(suffix) AS (VALUES {_D84_SFX}),
j AS (
  SELECT u.doc_id, u.host, s.suffix, len(s.suffix) AS slen
  FROM u LEFT JOIN s
    ON u.host = s.suffix OR ends_with(u.host, '.' || s.suffix)
),
w AS (
  SELECT doc_id, host, suffix, slen,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY slen DESC NULLS LAST) AS rn
  FROM j
),
r AS (
  SELECT host,
         CASE WHEN suffix IS NULL OR host = suffix THEN NULL
              ELSE (string_split(substr(host, 1,
                        len(host) - slen - 1), '.'))[-1]
                   || '.' || suffix END AS registrable
  FROM w WHERE rn = 1
)
SELECT coalesce(registrable, '(none)') AS registrable,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM r GROUP BY 1 ORDER BY registrable
""")
def d84_registrable_domain(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from pyspark.sql import Row

    from ecmm428_pycart_spark.datapipe.text import registrable_domain

    sfx = spark.createDataFrame(
        [Row(suffix=s) for s in
         ["com", "org", "uk", "co.uk", "ac.uk", "github.io", "io"]])
    u = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_D84_HOST).alias("host"))
    out = registrable_domain(u, sfx)
    return (out.groupBy(F.coalesce("registrable", F.lit("(none)"))
                        .alias("registrable"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.countDistinct("host").cast("long")
                 .alias("n_hosts"))
            .orderBy("registrable"))


# ---------------------------------------------------------------------------
# Late-arriving dimension handling (the Kimball inferred-member
# pattern: facts referencing a dimension key the dim feed hasn't
# delivered yet must neither drop nor block — they join to a
# placeholder row that a later dim update corrects): the dim feed
# is simulated by withholding every custkey % 10 == 0 from
# customer; orders LEFT JOIN the partial dim, unmatched facts mint
# inferred members (nation '(inferred)'), and the gate accounts
# revenue by member status x nation so the backfill's blast radius
# is visible. Broadcast dim, one fact pass.
# ---------------------------------------------------------------------------
@q("q123_inferred_members", """
WITH dim AS (
  SELECT c_custkey, n_name
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  WHERE c_custkey % 10 <> 0
),
j AS (
  SELECT coalesce(d.n_name, '(inferred)') AS nation,
         CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0 END AS inferred,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o LEFT JOIN dim d ON d.c_custkey = o.o_custkey
)
SELECT nation,
       CAST(max(inferred) AS BIGINT) AS is_inferred,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM j GROUP BY nation ORDER BY nation
""")
def q123_inferred_members(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    dim = (c.filter(F.col("c_custkey") % 10 != 0)
           .join(F.broadcast(n),
                 c.c_nationkey == n.n_nationkey)
           .select("c_custkey", "n_name"))
    j = (o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey,
                "left")
         .select(F.coalesce("n_name", F.lit("(inferred)"))
                 .alias("nation"),
                 F.col("c_custkey").isNull().cast("long")
                 .alias("inferred"),
                 F.round(F.col("o_totalprice") * 100).cast("long")
                 .alias("cents")))
    return (j.groupBy("nation")
            .agg(F.max("inferred").cast("long").alias("is_inferred"),
                 F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum("cents").cast("long").alias("revenue_cents"))
            .orderBy("nation"))


# ---------------------------------------------------------------------------
# LATERAL correlated-subquery top-k (SQL API surface: the
# per-row-subquery formulation of top-k-per-group — the form BI
# tools and migrating warehouse users actually write; Catalyst
# decorrelates it into the same join+window plan the explicit form
# produces, which is the point of the check): each customer's two
# largest orders via LATERAL ... ORDER BY ... LIMIT 2, rolled up so
# the page stays compact. The oracle runs the IDENTICAL LATERAL
# text — both engines decorrelate the same semantics.
# ---------------------------------------------------------------------------
_Q124_SQL = """
WITH t AS (
  SELECT c.c_custkey AS custkey, l.o_orderkey AS orderkey,
         l.cents
  FROM {cust} c,
  LATERAL (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM {ord} WHERE o_custkey = c.c_custkey
    ORDER BY cents DESC, o_orderkey ASC LIMIT 2
  ) l
)
SELECT CAST(custkey % 10 AS BIGINT) AS cohort,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS top2_cents,
       CAST(max(cents) AS BIGINT) AS best_cents,
       CAST(sum(orderkey) % 1000000000 AS BIGINT) AS key_checksum
FROM t GROUP BY 1 ORDER BY cohort
"""


@q("q124_lateral_topk",
   _Q124_SQL.format(cust="customer", ord="orders"))
def q124_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer") \
        .createOrReplaceTempView("q124_customer")
    _t(spark, sf_dir, "orders") \
        .createOrReplaceTempView("q124_orders")
    return spark.sql(_Q124_SQL.format(cust="q124_customer",
                                      ord="q124_orders"))


# ---------------------------------------------------------------------------
# NOT IN vs NOT EXISTS under NULLs (the three-valued-logic trap
# every SQL migration trips over: one NULL in the subquery makes
# NOT IN return ZERO rows, while NOT EXISTS keeps its anti-join
# meaning): the key list injects a NULL for every custkey % 100 = 7,
# and the page pins all four quantifier counts side by side —
# n_not_in must be 0 BY THE STANDARD, n_not_exists is the real
# complement, and in/exists agree. Spark compiles the NOT IN into a
# null-aware anti join; the identical SQL text runs on both
# engines.
# ---------------------------------------------------------------------------
_Q125_SQL = """
WITH keys AS (
  SELECT CASE WHEN c_custkey % 100 = 7 THEN NULL
              ELSE c_custkey END AS k
  FROM {cust}
)
SELECT
  (SELECT count(*) FROM {ord}
   WHERE o_custkey NOT IN (SELECT k FROM keys))
    AS n_not_in,
  (SELECT count(*) FROM {ord} o
   WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = o.o_custkey))
    AS n_not_exists,
  (SELECT count(*) FROM {ord}
   WHERE o_custkey IN (SELECT k FROM keys)) AS n_in,
  (SELECT count(*) FROM {ord} o
   WHERE EXISTS (SELECT 1 FROM keys WHERE k = o.o_custkey))
    AS n_exists,
  (SELECT count(*) FROM {ord}) AS n_orders
"""


@q("q125_not_in_null_trap", f"""
WITH raw AS ({_Q125_SQL.format(cust="customer", ord="orders")})
SELECT CAST(n_not_in AS BIGINT) AS n_not_in,
       CAST(n_not_exists AS BIGINT) AS n_not_exists,
       CAST(n_in AS BIGINT) AS n_in,
       CAST(n_exists AS BIGINT) AS n_exists,
       CAST(n_orders AS BIGINT) AS n_orders
FROM raw
""")
def q125_not_in_null_trap(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer") \
        .createOrReplaceTempView("q125_customer")
    _t(spark, sf_dir, "orders") \
        .createOrReplaceTempView("q125_orders")
    raw = spark.sql(_Q125_SQL.format(cust="q125_customer",
                                     ord="q125_orders"))
    return raw.select(*[F.col(c).cast("long").alias(c)
                        for c in raw.columns])


# ---------------------------------------------------------------------------
# Foreign-key DISCOVERY profiling (the schema-inference pass a
# catalog runs on undocumented data — q104 checks declared
# integrity, this one finds candidates): for each candidate
# (child column -> parent column) pair, distinct cardinalities,
# the count of child values contained in the parent, containment
# as ppm, and whether the parent side is actually unique — the
# standard inclusion-dependency score. Four true FKs and one
# deliberate non-FK pair keep the scorer honest. Each pair is two
# distinct aggregates + one semi-join on dimension-sized key sets.
# ---------------------------------------------------------------------------
_Q126_PAIRS = [
    ("li_order", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("o_cust", "orders", "o_custkey", "customer", "c_custkey"),
    ("li_supp", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("li_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("bogus", "orders", "o_custkey", "supplier", "s_suppkey"),
]
_Q126_ONE = """
SELECT '{label}' AS pair,
       (SELECT count(DISTINCT {ck}) FROM {ct}) AS n_child,
       (SELECT count(DISTINCT {pk}) FROM {pt}) AS n_parent,
       (SELECT count(*) FROM {pt}) AS n_parent_rows,
       (SELECT count(*) FROM
         (SELECT DISTINCT {ck} AS v FROM {ct}) c
         WHERE v IN (SELECT {pk} FROM {pt})) AS n_contained
"""


@q("q126_fk_discovery", f"""
WITH raw AS ({" UNION ALL ".join(
    _Q126_ONE.format(label=lb, ct=ct, ck=ck, pt=pt, pk=pk)
    for lb, ct, ck, pt, pk in _Q126_PAIRS)})
SELECT pair,
       CAST(n_child AS BIGINT) AS n_child,
       CAST(n_parent AS BIGINT) AS n_parent,
       CAST(n_contained AS BIGINT) AS n_contained,
       CAST(n_contained * 1000000 // n_child AS BIGINT)
         AS containment_ppm,
       n_parent = n_parent_rows AS parent_unique
FROM raw ORDER BY pair
""")
def q126_fk_discovery(spark: SparkSession,
                      sf_dir: str) -> DataFrame:
    parts = []
    for lb, ct, ck, pt, pk in _Q126_PAIRS:
        child = _t(spark, sf_dir, ct).select(F.col(ck).alias("v")) \
            .distinct()
        parent = _t(spark, sf_dir, pt)
        pkeys = parent.select(F.col(pk).alias("v"))
        contained = child.join(pkeys, "v", "left_semi")
        one = (child.agg(F.count(F.lit(1)).alias("n_child"))
               .crossJoin(pkeys.agg(
                   F.countDistinct("v").alias("n_parent"),
                   F.count(F.lit(1)).alias("n_parent_rows")))
               .crossJoin(contained.agg(
                   F.count(F.lit(1)).alias("n_contained")))
               .select(F.lit(lb).alias("pair"), "n_child",
                       "n_parent", "n_parent_rows", "n_contained"))
        parts.append(one)
    raw = parts[0]
    for p_ in parts[1:]:
        raw = raw.union(p_)
    return (raw.select(
        "pair",
        F.col("n_child").cast("long").alias("n_child"),
        F.col("n_parent").cast("long").alias("n_parent"),
        F.col("n_contained").cast("long").alias("n_contained"),
        F.expr("n_contained * 1000000 div n_child").cast("long")
        .alias("containment_ppm"),
        (F.col("n_parent") == F.col("n_parent_rows"))
        .alias("parent_unique"))
        .orderBy("pair"))


# ---------------------------------------------------------------------------
# Join fan-out inflation audit (the most common silent BI bug:
# joining a header to its lines and summing a HEADER measure counts
# it once per line): the naive orders-joined-to-lineitem sum of
# o_totalprice versus the correct pre-aggregated form, side by
# side per priority with the inflation in ppm — a negative-control
# page like the NOT IN trap, pinning that both engines inflate
# IDENTICALLY (the bug is semantics, not engine) and that the
# pre-aggregate kills it. Also carries avg lines per order
# undivided (line_count, order_count).
# ---------------------------------------------------------------------------
@q("q127_fanout_inflation", """
WITH correct AS (
  SELECT o_orderpriority AS pri,
         count(*) AS n_orders,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
naive AS (
  SELECT o.o_orderpriority AS pri,
         count(*) AS n_rows,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
           AS inflated_cents
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
)
SELECT pri,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(n_rows AS BIGINT) AS n_join_rows,
       CAST(cents AS BIGINT) AS correct_cents,
       CAST(inflated_cents AS BIGINT) AS inflated_cents,
       CAST(inflated_cents * 1000000 // cents AS BIGINT)
         AS inflation_ppm
FROM correct JOIN naive USING (pri)
ORDER BY pri
""")
def q127_fanout_inflation(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    correct = (o.groupBy(F.col("o_orderpriority").alias("pri"))
               .agg(F.count(F.lit(1)).alias("n_orders"),
                    F.sum(cents).alias("cents")))
    naive = (o.join(li, o.o_orderkey == li.l_orderkey)
             .groupBy(F.col("o_orderpriority").alias("pri"))
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.sum(cents).alias("inflated_cents")))
    return (correct.join(naive, "pri")
            .select("pri",
                    F.col("n_orders").cast("long").alias("n_orders"),
                    F.col("n_rows").cast("long").alias("n_join_rows"),
                    F.col("cents").cast("long")
                    .alias("correct_cents"),
                    F.col("inflated_cents").cast("long")
                    .alias("inflated_cents"),
                    F.expr("inflated_cents * 1000000 div cents")
                    .cast("long").alias("inflation_ppm"))
            .orderBy("pri"))


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth (the companion readout to the d76
# novelty curve and d79's frequency table: how does DISTINCT
# vocabulary grow as the crawl accumulates tokens? V(n) ~ K*n^beta
# — sublinear growth is the health signal; a linear curve means
# boilerplate or spam minting tokens): tokens attributed to the
# FIRST doc containing them (one token-keyed min aggregate),
# rolled into doc_id-div-100 crawl batches, with running totals
# over the bounded batch table. The K/beta fit is the reader's —
# the raw curve is exact integers.
# ---------------------------------------------------------------------------
@q("d85_heaps_curve", """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t
  FROM documents
),
firsts AS (
  SELECT t, min(doc_id) // 100 AS first_batch
  FROM tok GROUP BY t
),
nv AS (SELECT first_batch AS batch, count(*) AS new_vocab
       FROM firsts GROUP BY 1),
bt AS (SELECT doc_id // 100 AS batch, count(*) AS batch_tokens
       FROM tok GROUP BY 1),
c AS (
  SELECT bt.batch, bt.batch_tokens, coalesce(nv.new_vocab, 0)
           AS new_vocab
  FROM bt LEFT JOIN nv ON nv.batch = bt.batch
)
SELECT CAST(batch AS BIGINT) AS batch,
       CAST(batch_tokens AS BIGINT) AS batch_tokens,
       CAST(new_vocab AS BIGINT) AS new_vocab,
       CAST(sum(batch_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(sum(new_vocab) OVER w AS BIGINT) AS cum_vocab
FROM c
WINDOW w AS (ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
ORDER BY batch
""")
def d85_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ecmm428_pycart_spark.datapipe.text import tokens

    tok = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    firsts = (tok.groupBy("t")
              .agg(F.expr("min(doc_id) div 100").alias("batch")))
    nv = firsts.groupBy("batch").agg(F.count(F.lit(1))
                                     .alias("new_vocab"))
    bt = (tok.groupBy(F.expr("doc_id div 100").alias("batch"))
          .agg(F.count(F.lit(1)).alias("batch_tokens")))
    c = (bt.join(nv, "batch", "left")
         .withColumn("new_vocab",
                     F.coalesce("new_vocab", F.lit(0))))
    # bounded window: one row per crawl batch
    w = W.orderBy("batch").rowsBetween(W.unboundedPreceding, 0)
    return (c.select(F.col("batch").cast("long").alias("batch"),
                     F.col("batch_tokens").cast("long")
                     .alias("batch_tokens"),
                     F.col("new_vocab").cast("long")
                     .alias("new_vocab"),
                     F.sum("batch_tokens").over(w).cast("long")
                     .alias("cum_tokens"),
                     F.sum("new_vocab").over(w).cast("long")
                     .alias("cum_vocab"))
            .orderBy("batch"))


# ---------------------------------------------------------------------------
# Local Moran (LISA) quadrant census (Anselin 1995 — the per-region
# follow-up to g35's global statistic: WHICH regions sit in
# high-high clusters vs low-high outliers?): with the same n-scaled
# integer deviations, each region's quadrant is (sign of its own
# deviation) x (sign of its neighbors' deviation sum) and its local
# contribution is d_i * sum_j d_j — the page is the quadrant census
# with summed contributions, all undivided integers (HH/LL carry
# positive contributions, HL/LH negative; their total reconciles
# with g35's sum_w_didj). One neighbor-sum aggregate + one join.
# ---------------------------------------------------------------------------
@q("g38_lisa_quadrants", """
WITH p AS (
  SELECT CAST(ceiling(sqrt(count(*))) AS BIGINT) AS side,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c_custkey * 7 % 100) AS BIGINT) AS sx
  FROM customer
),
g AS (
  SELECT c_custkey AS k, c_custkey % side AS gx,
         c_custkey // side AS gy,
         n * (c_custkey * 7 % 100) - sx AS d
  FROM customer, p
),
e AS (
  SELECT a.k AS a, b.k AS b
  FROM g a JOIN g b
    ON (a.k < b.k AND abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1)
),
und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
ns AS (
  SELECT und.a AS k, sum(g.d) AS nd
  FROM und JOIN g ON g.k = und.b GROUP BY und.a
),
q_ AS (
  SELECT CASE WHEN g.d >= 0 THEN 'H' ELSE 'L' END
         || CASE WHEN ns.nd >= 0 THEN 'H' ELSE 'L' END AS quadrant,
         g.d * ns.nd AS contrib
  FROM g JOIN ns ON ns.k = g.k
)
SELECT quadrant,
       CAST(count(*) AS BIGINT) AS n_regions,
       CAST(sum(contrib) AS BIGINT) AS contrib_sum
FROM q_ GROUP BY quadrant ORDER BY quadrant
""")
def g38_lisa_quadrants(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.operators.borders import get_borders

    grid = _customer_grid(spark, sf_dir).drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    und = borders.select(F.col("focal").alias("a"),
                         F.col("neighbor").alias("b"))
    cust = _t(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("k"),
                (F.col("c_custkey") * 7 % 100).alias("x"))
    tot = cust.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("x").alias("sx"))
    d = (cust.crossJoin(tot)
         .select("k", (F.col("n") * F.col("x") - F.col("sx"))
                 .alias("d")))
    ns = (und.join(d.select(F.col("k").alias("b"),
                            F.col("d").alias("db")), "b")
          .groupBy(F.col("a").alias("k"))
          .agg(F.sum("db").alias("nd")))
    j = d.join(ns, "k")
    quad = F.concat(
        F.when(F.col("d") >= 0, F.lit("H")).otherwise(F.lit("L")),
        F.when(F.col("nd") >= 0, F.lit("H")).otherwise(F.lit("L")))
    return (j.select(quad.alias("quadrant"),
                     (F.col("d") * F.col("nd")).alias("contrib"))
            .groupBy("quadrant")
            .agg(F.count(F.lit(1)).cast("long").alias("n_regions"),
                 F.sum("contrib").cast("long").alias("contrib_sum"))
            .orderBy("quadrant"))


# ---------------------------------------------------------------------------
# Pivot -> unpivot inverse proof (the schema-transform integrity
# check nobody writes until a wide export silently dropped a
# column: long-to-wide then wide-to-long must reproduce the direct
# long aggregation exactly): per-user cents pivoted into one column
# per event type (explicit, sorted pivot values — the bounded
# dimension collected once), unpivoted back, null cells dropped
# (a user without a type has no long row), and rolled up per type.
# The oracle states only the DIRECT aggregation — matching it is
# the roundtrip proof.
# ---------------------------------------------------------------------------
@q("q128_pivot_roundtrip", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(cents) AS BIGINT) AS cents
FROM (
  SELECT user_id, event_type,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id, event_type
) GROUP BY event_type ORDER BY event_type
""")
def q128_pivot_roundtrip(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select("user_id", "event_type",
                  F.round(F.col("value") * 100).cast("long")
                  .alias("cents")))
    types = sorted(r.event_type for r in
                   ev.select("event_type").distinct().collect())
    wide = (ev.groupBy("user_id").pivot("event_type", types)
            .agg(F.sum("cents")))
    long_ = wide.unpivot("user_id", types, "event_type", "cents") \
        .filter(F.col("cents").isNotNull())
    return (long_.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                 F.sum("cents").cast("long").alias("cents"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# Multi-table sign-LSH recall curve (the tuning dial for the OTHER
# index family next to s26's IVF nprobe sweep: each extra hash
# table ORs in another 8-bit sign bucket, recall climbs toward 1 as
# tables are added — the L-vs-recall tradeoff from Indyk & Motwani
# / Gionis et al. 1999): tables are disjoint 8-dim sign bands, the
# candidate set for t tables is any-band collision with the query,
# and each tier reports candidate volume + recall@10 against the
# exact top-10. Oracle replays the band arithmetic + union + rerank
# closed-form.
# ---------------------------------------------------------------------------
_S31_TIERS = (1, 2, 4, 8)


def _s31_band_sql(col: str, i: int) -> str:
    return " + ".join(
        f"CASE WHEN {col}[{8 * i + j + 1}] > 0 THEN {1 << j} "
        f"ELSE 0 END" for j in range(8))


def _s31_sql() -> str:
    bands = ",\n         ".join(
        f"CAST({_s31_band_sql('embedding', i)} AS INTEGER) AS b{i}"
        for i in range(8))
    qbands = ",\n         ".join(
        f"CAST({_s31_band_sql('q', i)} AS INTEGER) AS qb{i}"
        for i in range(8))
    tiers, rows = [], []
    for t in _S31_TIERS:
        cond = " OR ".join(f"b.b{i} = qv.qb{i}" for i in range(t))
        tiers.append(f"""
c{t} AS (
  SELECT b.vec_id FROM b, qv WHERE {cond}
),
s{t} AS (
  SELECT vec_id FROM (
    SELECT s.vec_id, s.cos FROM scored s JOIN c{t} USING (vec_id)
    ORDER BY s.cos DESC, s.vec_id ASC LIMIT 10)
),
r{t} AS (
  SELECT {t} AS n_tables,
         (SELECT count(*) FROM c{t}) AS n_candidates,
         (SELECT count(*) FROM s{t} JOIN ex USING (vec_id))
           AS n_hits
)""")
        rows.append(f"SELECT * FROM r{t}")
    return f"""
WITH b AS (
  SELECT vec_id,
         {bands}
  FROM embeddings
),
qv AS (
  SELECT {qbands}
  FROM (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
),
scored AS (
  SELECT vec_id,
         round(sum(ex * qx) / (sqrt(sum(ex * ex))
               * sqrt(sum(qx * qx))), 6) AS cos
  FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS ex,
               unnest(q)::DOUBLE AS qx
        FROM embeddings,
             (SELECT embedding AS q FROM embeddings
              WHERE vec_id = 0))
  GROUP BY vec_id
),
ex AS (SELECT vec_id FROM scored
       ORDER BY cos DESC, vec_id ASC LIMIT 10),
{','.join(tiers)}
SELECT CAST(n_tables AS BIGINT) AS n_tables,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hits AS BIGINT) AS n_hits,
       round(n_hits / 10.0, 6) AS recall_at_10
FROM ({" UNION ALL ".join(rows)}) ORDER BY n_tables
"""


@q("s31_lsh_tables_recall", _s31_sql())
def s31_lsh_tables_recall(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import similarity

    emb = _t(spark, sf_dir, "embeddings")
    qv = similarity.query_vector(emb, 0)
    exact = similarity.cosine_topk(emb, qv, k=10).select("vec_id")

    def band(col, i):
        e = F.col(col)
        terms = [F.when(F.element_at(e, 8 * i + j + 1) > 0,
                        F.lit(1 << j)).otherwise(F.lit(0))
                 for j in range(8)]
        out = terms[0]
        for term in terms[1:]:
            out = out + term
        return out.cast("int")

    b = emb.select("vec_id", "label", "embedding",
                   *[band("embedding", i).alias(f"b{i}")
                     for i in range(8)])
    qrow = qv.select(
        *[band("q", i).alias(f"qb{i}") for i in range(8)]).head()
    out = None
    for t in _S31_TIERS:
        cond = F.lit(False)
        for i in range(t):
            cond = cond | (F.col(f"b{i}") == F.lit(qrow[f"qb{i}"]))
        cand = b.filter(cond)
        ids = similarity.cosine_topk(
            cand.select("vec_id", "label", "embedding"), qv,
            k=10).select("vec_id")
        row = (cand.agg(F.count(F.lit(1)).alias("n_candidates"))
               .crossJoin(ids.join(exact, "vec_id")
                          .agg(F.count(F.lit(1)).alias("n_hits")))
               .select(F.lit(t).cast("long").alias("n_tables"),
                       F.col("n_candidates").cast("long")
                       .alias("n_candidates"),
                       F.col("n_hits").cast("long").alias("n_hits"),
                       F.round(F.col("n_hits") / 10.0, 6)
                       .alias("recall_at_10")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_tables")


# ---------------------------------------------------------------------------
# Hopping (sliding) window aggregation (API surface: F.window with
# a slide shorter than the duration — every event lands in
# duration/slide overlapping windows; the smoothing shape behind
# rolling dashboards): 2-hour windows hopping every 30 minutes over
# the event stream, rolled up by window start's minute-of-day so
# the page is bounded. The oracle expands the 4 overlapping window
# starts per event closed-form (floor to the slide grid, then the
# 3 earlier starts still covering the event).
# ---------------------------------------------------------------------------
_Q129_SQL = """
WITH ev AS (
  SELECT epoch(ts) AS es,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
w AS (
  SELECT (CAST(floor(es / 1800) AS BIGINT) - k.i) * 1800 AS wstart,
         cents
  FROM ev, unnest(range(0, 4)) k(i)
)
SELECT CAST(wstart % 86400 // 60 AS BIGINT) AS start_minute,
       CAST(count(*) AS BIGINT) AS n_event_windows,
       CAST(sum(cents) AS BIGINT) AS cents
FROM w GROUP BY 1 ORDER BY start_minute
"""


@q("q129_hopping_windows", _Q129_SQL)
def q129_hopping_windows(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
          .select(F.col("ts").cast("timestamp").alias("ts"),
                  F.round(F.col("value") * 100).cast("long")
                  .alias("cents")))
    win = ev.groupBy(F.window("ts", "2 hours", "30 minutes")
                     .alias("w")) \
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("cents").alias("cents"))
    return (win.groupBy(F.expr(
        "CAST(unix_timestamp(w.start) % 86400 div 60 AS BIGINT)")
        .alias("start_minute"))
        .agg(F.sum("n").cast("long").alias("n_event_windows"),
             F.sum("cents").cast("long").alias("cents"))
        .orderBy("start_minute"))


# ---------------------------------------------------------------------------
# UTF-8 ingestion hygiene audit (text.utf8_audit — the byte-level
# validity pass a crawl runs before trusting .decode(), catching
# the overlong-encoding smuggling vector, surrogates, out-of-range
# code points and truncation): the pure-ASCII corpus gets one
# deterministic injection per doc by doc_id % 5 — a valid 3-byte
# euro, an overlong '/', an encoded surrogate, U+110000, or a
# truncated sequence — so every violation class the validator names
# is exercised and every count is closed-form (base ASCII bytes ==
# strlen; the corpus is byte==char clean, asserted by the oracle's
# strlen=length equality).
# ---------------------------------------------------------------------------
@q("d86_utf8_audit", """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS ascii_bytes,
       CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_three,
       CAST(sum(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlong,
       CAST(sum(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_surrogate,
       CAST(sum(CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_too_large,
       CAST(sum(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_truncated
FROM documents
WHERE strlen(text) = length(text)
GROUP BY source ORDER BY source
""")
def d86_utf8_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    from ecmm428_pycart_spark.datapipe.text import utf8_audit

    inject = {0: "€".encode(), 1: b"\xC0\xAF",
              2: b"\xED\xA0\x80", 3: b"\xF4\x90\x80\x80",
              4: b"\xE2\x82"}

    @F.pandas_udf(T.StructType([
        T.StructField(k, T.LongType())
        for k in ("ascii", "three", "overlong", "surrogate",
                  "too_large", "truncated")]))
    def _audit(text, doc_id):
        rows = []
        for t, i in zip(text, doc_id):
            c = utf8_audit(t.encode() + inject[int(i) % 5])
            rows.append((c["ascii"], c["three"], c["overlong"],
                         c["surrogate"], c["too_large"],
                         c["truncated"]))
        return pd.DataFrame(rows, columns=["ascii", "three",
                                           "overlong", "surrogate",
                                           "too_large", "truncated"])

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text")
    st = docs.withColumn("s", _audit("text", "doc_id"))
    return (st.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("s.ascii").cast("long").alias("ascii_bytes"),
                 F.sum("s.three").cast("long").alias("n_three"),
                 F.sum("s.overlong").cast("long").alias("n_overlong"),
                 F.sum("s.surrogate").cast("long")
                 .alias("n_surrogate"),
                 F.sum("s.too_large").cast("long")
                 .alias("n_too_large"),
                 F.sum("s.truncated").cast("long")
                 .alias("n_truncated"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Spearman rank correlation in exact integers (the metric-vs-metric
# sanity check a profiler runs — does document length actually track
# vocabulary richness?): both metrics ranked by row_number with the
# doc_id tiebreak (deterministic on both engines), rho = 1 -
# 6*sum(d^2) / (n(n^2-1)) shipped UNDIVIDED as (n, sum_d2, rho_num,
# rho_den) with rho_num possibly negative — the g31 discipline. The
# two corpus-wide rank windows follow the d75/st20 convention: at
# 100 TB swap exact ranks for percentile_approx buckets (noted in
# SCALING.md) or rank within hash buckets.
# ---------------------------------------------------------------------------
@q("d87_spearman_metrics", """
WITH m AS (
  SELECT doc_id, length(text) AS chars,
         len(list_distinct(string_split(text, ' '))) AS vocab
  FROM documents
),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY chars, doc_id) AS r1,
         row_number() OVER (ORDER BY vocab, doc_id) AS r2
  FROM m
),
s AS (
  SELECT count(*) AS n,
         sum((r1 - r2) * (r1 - r2)) AS sum_d2
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(sum_d2 AS BIGINT) AS sum_d2,
       CAST(n * (n * n - 1) - 6 * sum_d2 AS BIGINT) AS rho_num,
       CAST(n * (n * n - 1) AS BIGINT) AS rho_den
FROM s
""")
def d87_spearman_metrics(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ecmm428_pycart_spark.datapipe.text import tokens

    m = _t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("chars"),
        F.size(F.array_distinct(tokens(F.col("text"))))
        .alias("vocab"))
    r = m.select(
        F.row_number().over(W.orderBy("chars", "doc_id")).alias("r1"),
        F.row_number().over(W.orderBy("vocab", "doc_id")).alias("r2"))
    d2 = (F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2"))
    s = r.agg(F.count(F.lit(1)).alias("n"),
              F.sum(d2).alias("sum_d2"))
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("sum_d2").cast("long").alias("sum_d2"),
        (F.col("n") * (F.col("n") * F.col("n") - 1)
         - 6 * F.col("sum_d2")).cast("long").alias("rho_num"),
        (F.col("n") * (F.col("n") * F.col("n") - 1)).cast("long")
        .alias("rho_den"))


# ---------------------------------------------------------------------------
# MP3 stream measurement without decode (multimodal.mp3_walk — the
# frame-header hop every audio ingest runs to get frame count,
# bitrate mix and duration before deciding to transcode): synthetic
# streams exercise all 14 bitrate indices, all 3 samplerates and
# both padding states; the oracle expands the SAME header table and
# frame-size formula (144 * bitrate // samplerate + padding,
# 1152000 // samplerate ms per frame) over the frame index range.
# ---------------------------------------------------------------------------
_M48_BR = ("CASE 1 + (doc_id + f.i) % 14 "
           + " ".join(f"WHEN {i} THEN {b}" for i, b in enumerate(
               (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                224, 256, 320)) if i >= 1)
           + " END")
_M48_SR = ("CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 "
           "ELSE 32000 END")


@q("m48_mp3_stream_stats", f"""
WITH fr AS (
  SELECT d.doc_id, d.source, f.i,
         {_M48_BR} AS br, {_M48_SR} AS sr
  FROM documents d, unnest(range(0, 11)) f(i)
  WHERE f.i < 6 + d.doc_id % 5
),
v AS (
  SELECT source, br, sr,
         144 * br * 1000 // sr + (i % 2) AS flen,
         1152000 // sr AS fms
  FROM fr
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(br) AS BIGINT) AS bitrate_kbps_sum,
       CAST(sum(flen) AS BIGINT) AS total_bytes,
       CAST(sum(fms) AS BIGINT) AS total_ms
FROM v GROUP BY source ORDER BY source
""")
def m48_mp3_stream_stats(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    payload = docs.withColumn(
        "payload", multimodal.synth_mp3_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.mp3_stream_stats(F.col("payload"))) \
        .withColumn("n_bytes", F.length("payload"))
    return (st.groupBy("source")
            .agg(F.sum("s.n_frames").cast("long").alias("n_frames"),
                 F.sum("s.br_sum").cast("long")
                 .alias("bitrate_kbps_sum"),
                 F.sum("n_bytes").cast("long").alias("total_bytes"),
                 F.sum("s.total_ms").cast("long").alias("total_ms"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# STREAMING hopping windows (the st-twin of q129: the same 2-hour/
# 30-minute overlapping aggregation run through Structured
# Streaming in update mode across three time-ordered slices): each
# micro-batch re-emits the windows it touched with running counts,
# so the final state per window is its per-window argmax of the
# strictly-increasing count (the st21 finalization discipline), and
# the batch expansion oracle pins it exactly.
# ---------------------------------------------------------------------------
@q("st24_stream_hopping", _Q129_SQL)
def st24_stream_hopping(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    import uuid

    from pyspark.sql import Window as W

    from ecmm428_pycart_spark.benchmarks.relational import (
        _await_stream, _scratch)
    from ecmm428_pycart_spark.streaming.events import (
        read_events_stream, write_time_ordered_stream_dir)

    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
          .withColumn("ts", F.col("ts").cast("timestamp")))
    slices = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
              for i in range(3)]
    d = _scratch("st24_events_")
    write_time_ordered_stream_dir(slices, d)
    stream = read_events_stream(spark, d, max_files_per_trigger=1) \
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
    agg = (stream.groupBy(F.window("ts", "2 hours", "30 minutes")
                          .alias("w"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long"))
                .alias("cents")))
    name = f"st24_{uuid.uuid4().hex[:8]}"
    _await_stream(
        spark,
        agg.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True))
    fin = (spark.table(name)
           .withColumn("_rn", F.row_number().over(
               W.partitionBy("w").orderBy(F.col("n").desc())))
           .filter(F.col("_rn") == 1))
    return (fin.groupBy(F.expr(
        "CAST(unix_timestamp(w.start) % 86400 div 60 AS BIGINT)")
        .alias("start_minute"))
        .agg(F.sum("n").cast("long").alias("n_event_windows"),
             F.sum("cents").cast("long").alias("cents"))
        .orderBy("start_minute"))


# ---------------------------------------------------------------------------
# Schema-drift-safe union (API surface both engines grew for the
# same reason: feeds evolve, and positional UNION silently mixes
# columns — Spark's unionByName(allowMissingColumns=True) vs
# DuckDB's UNION ALL BY NAME): a v1 feed (orderkey, cents) and a v2
# feed adding a priority column combine by NAME, absent columns
# null-filled, and the page accounts rows and null counts per feed
# version — the drift audit a lakehouse runs on every producer
# upgrade.
# ---------------------------------------------------------------------------
@q("q130_union_by_name", """
WITH v1 AS (
  SELECT 'v1' AS feed, o_orderkey AS orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
  SELECT 'v2' AS feed, o_orderkey AS orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderpriority AS priority
  FROM orders WHERE o_orderkey % 2 = 1
),
u AS (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
SELECT feed,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS cents,
       CAST(count(priority) AS BIGINT) AS n_priority_present,
       CAST(sum(CASE WHEN priority IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_priority_null
FROM u GROUP BY feed ORDER BY feed
""")
def q130_union_by_name(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    v1 = (o.filter(F.col("o_orderkey") % 2 == 0)
          .select(F.lit("v1").alias("feed"),
                  F.col("o_orderkey").alias("orderkey"),
                  cents.alias("cents")))
    v2 = (o.filter(F.col("o_orderkey") % 2 == 1)
          .select(F.lit("v2").alias("feed"),
                  F.col("o_orderkey").alias("orderkey"),
                  cents.alias("cents"),
                  F.col("o_orderpriority").alias("priority")))
    u = v1.unionByName(v2, allowMissingColumns=True)
    return (u.groupBy("feed")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum("cents").cast("long").alias("cents"),
                 F.count("priority").cast("long")
                 .alias("n_priority_present"),
                 F.sum(F.col("priority").isNull().cast("long"))
                 .cast("long").alias("n_priority_null"))
            .orderBy("feed"))


# ---------------------------------------------------------------------------
# Error-tolerant ingestion casts (TRY_CAST — the API both engines
# grew so one malformed row can't fail a 100 TB load the way ANSI
# CAST does): a synthetic dirty string column mixes clean integers,
# int64-overflowing digits (both engines null them — the silent
# truncation CAST would commit elsewhere), whitespace-padded
# numbers (both trim before casting), empty strings and garbage;
# the page accounts parsed vs null per dirt class and sums the
# recovered values. NOT portable and therefore excluded: decimal
# strings — DuckDB's TRY_CAST('5.75' AS BIGINT) ROUNDS to 6 while
# Spark rejects it, a genuine cross-engine semantics gap worth
# this comment.
# ---------------------------------------------------------------------------
_Q131_DIRTY = """CASE doc_id % 5
  WHEN 0 THEN CAST(doc_id AS STRING)
  WHEN 1 THEN '9999999999999999999' || CAST(doc_id AS STRING)
  WHEN 2 THEN '  ' || CAST(doc_id AS STRING) || ' '
  WHEN 3 THEN ''
  ELSE 'n/a' END"""


@q("q131_try_cast_ingest", f"""
WITH d AS (
  SELECT doc_id % 5 AS dirt_class, {_Q131_DIRTY} AS raw
  FROM documents
),
c AS (SELECT dirt_class, raw, TRY_CAST(raw AS BIGINT) AS v FROM d)
SELECT CAST(dirt_class AS BIGINT) AS dirt_class,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(v) AS BIGINT) AS n_parsed,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rejected,
       CAST(coalesce(sum(v), 0) AS BIGINT) AS value_sum
FROM c GROUP BY dirt_class ORDER BY dirt_class
""")
def q131_try_cast_ingest(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 5).alias("dirt_class"),
        F.expr(_Q131_DIRTY).alias("raw"))
    c = d.withColumn("v", F.expr("TRY_CAST(raw AS BIGINT)"))
    return (c.groupBy("dirt_class")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.count("v").cast("long").alias("n_parsed"),
                 F.sum(F.col("v").isNull().cast("long")).cast("long")
                 .alias("n_rejected"),
                 F.coalesce(F.sum("v"), F.lit(0)).cast("long")
                 .alias("value_sum"))
            .select(F.col("dirt_class").cast("long")
                    .alias("dirt_class"), "n_rows", "n_parsed",
                    "n_rejected", "value_sum")
            .orderBy("dirt_class"))


# ---------------------------------------------------------------------------
# Placement-strategy comparison (answering the question g32's
# diagnostic poses: IS there a placement smarter than hash for this
# graph?): the same queen-grid edge list scored under node-hash
# placement (k % 8) and contiguous block placement (k // ceil(n/8))
# side by side — block placement keeps grid neighbors together and
# cuts an order of magnitude fewer edges, the locality argument
# behind range partitioning of spatial keys at 100 TB. One edge
# list, two label functions, one union.
# ---------------------------------------------------------------------------
@q("g40_placement_compare", """
WITH p AS (
  SELECT CAST(ceiling(sqrt(count(*))) AS BIGINT) AS side,
         CAST(ceiling(count(*) / 8.0) AS BIGINT) AS blk
  FROM customer
),
g AS (
  SELECT c_custkey AS k, c_custkey % side AS gx,
         c_custkey // side AS gy
  FROM customer, p
),
e AS (
  SELECT a.k AS a, b.k AS b
  FROM g a JOIN g b
    ON (a.k < b.k AND abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1)
),
s AS (
  SELECT 'hash' AS placement,
         sum(CASE WHEN a % 8 = b % 8 THEN 0 ELSE 1 END) AS n_cut,
         count(*) AS n_edges
  FROM e
  UNION ALL
  SELECT 'block' AS placement,
         sum(CASE WHEN a // blk = b // blk THEN 0 ELSE 1 END)
           AS n_cut,
         count(*) AS n_edges
  FROM e, p
)
SELECT placement,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_cut AS BIGINT) AS n_cut,
       CAST(n_cut * 1000000 // n_edges AS BIGINT) AS cut_ppm
FROM s ORDER BY placement
""")
def g40_placement_compare(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.operators.borders import get_borders

    grid = _customer_grid(spark, sf_dir).drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    e = (borders.filter(F.col("focal") < F.col("neighbor"))
         .select(F.col("focal").alias("a"),
                 F.col("neighbor").alias("b")))
    blk = _t(spark, sf_dir, "customer").agg(
        F.ceil(F.count(F.lit(1)) / 8.0).cast("long").alias("blk"))
    ej = e.crossJoin(blk)
    rows = []
    for name, cut in [
            ("hash", (F.col("a") % 8 != F.col("b") % 8)),
            ("block", F.expr("a div blk") != F.expr("b div blk"))]:
        rows.append(ej.agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum(cut.cast("long")).alias("n_cut"))
            .select(F.lit(name).alias("placement"),
                    F.col("n_edges").cast("long").alias("n_edges"),
                    F.col("n_cut").cast("long").alias("n_cut"),
                    F.expr("n_cut * 1000000 div n_edges")
                    .cast("long").alias("cut_ppm")))
    return rows[0].union(rows[1]).orderBy("placement")


# ---------------------------------------------------------------------------
# Cross-format transcode chain (multimodal.tga_png_transcode_stats:
# TGA RLE decode -> adaptive PNG encode -> PNG decode, refusing to
# emit on any raster mismatch — three hand-rolled codecs composing
# losslessly in one Arrow batch, the normalization shape an image
# ingest actually runs): the oracle replays the m38 TGA pixel
# generator closed-form (17x11, runs-then-literals pattern) plus an
# x-weighted checksum of the final raster.
# ---------------------------------------------------------------------------
@q("m49_tga_png_transcode", """
WITH px AS (
  SELECT d.doc_id, d.source,
         ((d.doc_id % 7 + 1) * u.u + (d.doc_id % 5 + 1) * y.y
          + 37 * c.c) % 256 AS val,
         u.x
  FROM documents d,
       (SELECT x, CASE WHEN x < 15 THEN x // 3 ELSE 100 + x END AS u
        FROM unnest(range(0, 17)) t(x)) u,
       unnest(range(0, 11)) y(y),
       unnest(range(0, 3)) c(c)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_pix,
       CAST(sum(val) AS BIGINT) AS sum_rgb,
       CAST(sum(val * (x + 1)) % 1000000000 AS BIGINT) AS xw_sum
FROM px GROUP BY source ORDER BY source
""")
def m49_tga_png_transcode(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    payload = docs.withColumn(
        "payload", multimodal.synth_tga_rle_payload(F.col("doc_id")))
    st = payload.withColumn(
        "s", multimodal.tga_png_transcode_stats(F.col("payload")))
    return (st.groupBy("source")
            .agg(F.sum("s.n_pix").cast("long").alias("n_pix"),
                 F.sum("s.sum_rgb").cast("long").alias("sum_rgb"),
                 (F.sum("s.xw_sum") % 1000000000).cast("long")
                 .alias("xw_sum"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Shard-rebalance accounting under modulo vs rendezvous hashing
# (Thaler & Ravishankar's HRW — the consistent-placement scheme
# whose guarantee is the whole point: growing 8 shards to 10 moves
# ~2/10 of keys, where modulo placement reshuffles ~90% of the
# corpus): every key scores each bucket by an md5 draw, placement =
# argmax (deterministic tiebreak on bucket id), and the page pins
# moved-key counts and ppms for both schemes side by side. The
# bucket dimension is generated (10 rows per key), never a shuffle
# of state.
# ---------------------------------------------------------------------------
_D88_W = ("CAST(concat('0x', substr(md5('hrw' || CAST(k AS STRING)"
          " || '|' || CAST(b AS STRING)), 1, 8)) AS UBIGINT)")


@q("d88_hrw_rebalance", f"""
WITH keys AS (SELECT c_custkey AS k FROM customer),
w AS (
  SELECT k, b.b, {_D88_W} AS wt
  FROM keys, unnest(range(0, 10)) b(b)
),
a8 AS (
  SELECT k, b AS s8 FROM (
    SELECT k, b, row_number() OVER (PARTITION BY k
        ORDER BY wt DESC, b ASC) AS rn
    FROM w WHERE b < 8) WHERE rn = 1
),
a10 AS (
  SELECT k, b AS s10 FROM (
    SELECT k, b, row_number() OVER (PARTITION BY k
        ORDER BY wt DESC, b ASC) AS rn
    FROM w) WHERE rn = 1
),
j AS (
  SELECT keys.k,
         CASE WHEN keys.k % 8 <> keys.k % 10 THEN 1 ELSE 0 END
           AS mod_moved,
         CASE WHEN a8.s8 <> a10.s10 THEN 1 ELSE 0 END AS hrw_moved
  FROM keys JOIN a8 USING (k) JOIN a10 USING (k)
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(mod_moved) AS BIGINT) AS mod_moved,
       CAST(sum(hrw_moved) AS BIGINT) AS hrw_moved,
       CAST(sum(mod_moved) * 1000000 // count(*) AS BIGINT)
         AS mod_moved_ppm,
       CAST(sum(hrw_moved) * 1000000 // count(*) AS BIGINT)
         AS hrw_moved_ppm
FROM j
""")
def d88_hrw_rebalance(spark: SparkSession,
                      sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    keys = _t(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("k"))
    w_ = keys.select(
        "k", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("b"))
    wt = F.conv(F.substring(F.md5(F.concat(
        F.lit("hrw"), F.col("k").cast("string"), F.lit("|"),
        F.col("b").cast("string"))), 1, 8), 16, 10).cast("long")
    w_ = w_.withColumn("wt", wt)

    def assign(df, n, out):
        win = W.partitionBy("k").orderBy(F.col("wt").desc(),
                                         F.col("b").asc())
        return (df.filter(F.col("b") < n)
                .withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1)
                .select("k", F.col("b").alias(out)))

    j = (keys.join(assign(w_, 8, "s8"), "k")
         .join(assign(w_, 10, "s10"), "k")
         .select((F.col("k") % 8 != F.col("k") % 10).cast("long")
                 .alias("mod_moved"),
                 (F.col("s8") != F.col("s10")).cast("long")
                 .alias("hrw_moved")))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("mod_moved").cast("long").alias("mod_moved"),
        F.sum("hrw_moved").cast("long").alias("hrw_moved"),
        F.expr("sum(mod_moved) * 1000000 div count(*)").cast("long")
        .alias("mod_moved_ppm"),
        F.expr("sum(hrw_moved) * 1000000 div count(*)").cast("long")
        .alias("hrw_moved_ppm"))


# ---------------------------------------------------------------------------
# Recency-decayed engagement score in pure integers (the
# recommender/LTV recency weighting, with the decay an exact
# bit-shift instead of exp(): value halves every 30 days of age —
# cents >> (age_days // 30) — so the score is engine-replayable to
# the last bit; power-of-two decay epochs are precisely the trick
# integer-only scoring systems use): age measured against the
# corpus's max event time (1-row broadcast), rolled up per user
# cohort. Shifts are capped at 62 to stay in int64.
# ---------------------------------------------------------------------------
@q("q132_decayed_engagement", """
WITH mx AS (
  SELECT CAST(floor(epoch(max(ts)) / 86400) AS BIGINT) AS max_day
  FROM events WHERE ts IS NOT NULL
),
e AS (
  SELECT user_id % 10 AS cohort,
         CAST(round(value * 100) AS BIGINT)
           >> least((max_day - CAST(floor(epoch(ts) / 86400)
                                    AS BIGINT)) // 30, 62) AS dec_c,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events, mx WHERE ts IS NOT NULL AND value IS NOT NULL
)
SELECT CAST(cohort AS BIGINT) AS cohort,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS raw_cents,
       CAST(sum(dec_c) AS BIGINT) AS decayed_cents
FROM e GROUP BY cohort ORDER BY cohort
""")
def q132_decayed_engagement(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
          .select("user_id",
                  F.floor(F.unix_timestamp(
                      F.col("ts").cast("timestamp")) / 86400)
                  .cast("long").alias("day"),
                  F.round(F.col("value") * 100).cast("long")
                  .alias("cents")))
    mx = ev.agg(F.max("day").alias("max_day"))
    e = (ev.crossJoin(mx)
         .select((F.col("user_id") % 10).alias("cohort"),
                 "cents",
                 F.expr("cents >> CAST(least((max_day - day) div 30,"
                        " 62) AS INT)").alias("dec_c")))
    return (e.groupBy("cohort")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum("cents").cast("long").alias("raw_cents"),
                 F.sum("dec_c").cast("long").alias("decayed_cents"))
            .select(F.col("cohort").cast("long").alias("cohort"),
                    "n_events", "raw_cents", "decayed_cents")
            .orderBy("cohort"))


# ---------------------------------------------------------------------------
# Concatenated-member .warc.gz walk (multimodal.decode_gzip_members
# + decode_warc_records — RFC 1952 §2.2 member concatenation, the
# Common Crawl production layout: ONE gzip member per WARC record so
# archives split on member boundaries without inflating the file).
# The hand-rolled inflate now reports its consumed byte length
# (inflate_consumed), which is what locates each member's CRC/ISIZE
# trailer and the next member's header. The oracle replays the
# verified closed form for record bytes: 154 + type_len(8|7) +
# content-length digits (1|2) + clen, clen = (id%17)+3j+5.
# ---------------------------------------------------------------------------
@q("m51_warc_gz_members", """
WITH d AS (SELECT doc_id, source, doc_id % 3 + 1 AS k FROM documents),
r AS (
  SELECT d.doc_id, d.source, j.j,
         (d.doc_id % 17) + 3 * j.j + 5 AS clen,
         97 + (d.doc_id + j.j) % 26 AS c
  FROM d, unnest(range(0, d.k)) j(j)
),
a AS (
  SELECT doc_id, source,
         count(*) AS n_members,
         sum(154 + CASE WHEN j % 2 = 0 THEN 8 ELSE 7 END
                 + CASE WHEN clen >= 10 THEN 2 ELSE 1 END
                 + clen) AS raw,
         sum(c * clen) AS psum
  FROM r GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_members) AS BIGINT) AS total_members,
       CAST(sum(raw) AS BIGINT) AS total_raw,
       CAST(sum(n_members) AS BIGINT) AS total_records,
       CAST(sum(psum) AS BIGINT) AS payload_sum
FROM a GROUP BY source
""")
def m51_warc_gz_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    st = docs.withColumn(
        "s", multimodal.warc_gz_member_stats(
            multimodal.synth_warc_gz_payload(F.col("doc_id"))))
    return (st.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.n_members").cast("long")
                 .alias("total_members"),
                 F.sum("s.total_raw").cast("long").alias("total_raw"),
                 F.sum("s.n_records").cast("long")
                 .alias("total_records"),
                 F.sum("s.payload_sum").cast("long")
                 .alias("payload_sum")))


# ---------------------------------------------------------------------------
# REAL HTML visible-text extraction (text.html_to_text — stdlib
# html.parser walk, never regex): the boilerplate strip between the
# WARC walk (m50/m51) and text filtering, with link density —
# boilerplate scoring's strongest single feature (Kohlschutter et
# al. 2010, WSDM). The synthetic page construction (text.synth_html)
# guarantees closed forms: 10-token <p> paragraphs, <title>/<script>
# /<style> blocks invisible to extraction, every pid % 4 == 1
# paragraph except the last wrapping its first two tokens in <a> —
# so extracted tokens == the original token count and the oracle
# replays paragraph arithmetic via unnest(range(np)).
# ---------------------------------------------------------------------------
@q("d92_html_extract", """
WITH d AS (SELECT doc_id, source,
                  len(string_split(text, ' ')) AS nt FROM documents),
p AS (SELECT doc_id, source, nt, (nt + 9) // 10 AS np FROM d),
lk AS (
  SELECT p.doc_id, p.source, p.nt,
         sum(CASE WHEN i.i % 4 = 1 AND i.i < p.np - 1
                  THEN 1 ELSE 0 END) AS n_links
  FROM p, unnest(range(0, p.np)) i(i)
  GROUP BY 1, 2, 3
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS ext_tokens,
       CAST(sum(n_links) AS BIGINT) AS n_links,
       CAST(sum(n_links) * 2 AS BIGINT) AS link_tokens,
       CAST(sum(n_links) * 2 * 1000000 // sum(nt) AS BIGINT)
         AS link_density_ppm
FROM lk GROUP BY source
""")
def d92_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import html_extract_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")
    st = html_extract_stats(docs)
    return (st.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.n_ext_tokens").cast("long")
                 .alias("ext_tokens"),
                 F.sum("s.n_links").cast("long").alias("n_links"),
                 F.sum("s.link_tokens").cast("long")
                 .alias("link_tokens"),
                 F.expr("sum(s.link_tokens) * 1000000 "
                        "div sum(s.n_ext_tokens)")
                 .alias("link_density_ppm")))


# ---------------------------------------------------------------------------
# END-TO-END Common Crawl macro (the LLM-pipeline flagship next to
# q95's text-curation chain): per document a REAL 2-record WARC
# archive is built (request decoy + response whose payload is the
# synthetic HTML page), then the production read path runs — ISO
# 28500 WARC walk (multimodal.decode_warc_records, m50) -> response
# records only -> stdlib-html.parser visible-text extraction
# (text.html_to_text, d92) -> stopword lang-id keep 'en' (d03) ->
# quality floor (the EXACT-INTEGER form of d09's
# quality >= 0.2: u >= 20 when nt <= 100 else 5u >= nt — no float
# crosses the filter) -> minhash-LSH near-dup candidates + exact
# Jaccard >= 0.5 verify + connected-components canonical keep
# (d06/d15) -> temperature-mixed source weights (d91). ONE DuckDB
# oracle replays the whole chain: because html_to_text(synth_html(i,
# t)) == t is a proven identity, the post-extraction corpus has the
# closed form "the documents table", and the audit columns (WARC
# record count, link count via d92's paragraph arithmetic) pin that
# the decode genuinely ran — a framing or extraction bug changes
# every downstream hash.
#
# Scale shape (100 TB crawl): the encode/decode/extract chain is one
# zero-shuffle Arrow pandas-UDF pass; the corpus is localCheckpoint'd
# once and feeds the audit + filter branches without re-decoding;
# lang-id shuffles once on doc_id after a broadcast stopword join;
# LSH pair volume is bounded by banding + MAX_BUCKET_SIZE=64, never
# all-pairs; components is O(log n) rounds of node-keyed shuffles;
# mixing is one groupBy(source) + a 1-row broadcast total.
# ---------------------------------------------------------------------------
def _q133_sql() -> str:
    from ecmm428_pycart_spark.benchmarks.datapipe_queries import (
        _BANDS_SQL, _MINHASH_SQL, _SW_VALUES)
    from ecmm428_pycart_spark.datapipe import dedup

    mh = _MINHASH_SQL.replace("FROM documents", "FROM kept")
    return f"""
WITH corpus AS (SELECT doc_id, source, text FROM documents),
aud0 AS (
  SELECT c.doc_id, c.source,
         (len(string_split(c.text, ' ')) + 9) // 10 AS np
  FROM corpus c
),
aud AS (
  SELECT a.source,
         count(DISTINCT a.doc_id) AS n_fetched,
         2 * count(DISTINCT a.doc_id) AS warc_records,
         sum(CASE WHEN i.i % 4 = 1 AND i.i < a.np - 1
                  THEN 1 ELSE 0 END) AS n_links
  FROM aud0 a, unnest(range(0, a.np)) i(i)
  GROUP BY a.source
),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM corpus),
sw(cand_lang, tok) AS (VALUES {_SW_VALUES}),
hits AS (SELECT doc_id, cand_lang, count(*) AS n_hits
         FROM tok JOIN sw USING (tok) GROUP BY 1, 2),
best AS (SELECT doc_id, cand_lang FROM hits
         QUALIFY row_number() OVER (PARTITION BY doc_id
                 ORDER BY n_hits DESC, cand_lang ASC) = 1),
st AS (SELECT c.*, len(string_split(text, ' ')) AS nt,
              len(list_distinct(string_split(text, ' '))) AS u
       FROM corpus c),
kept AS (
  SELECT st.doc_id, st.source, st.text FROM st
  JOIN best b USING (doc_id)
  WHERE b.cand_lang = 'en'
    AND ((nt <= 100 AND u >= 20) OR (nt > 100 AND 5 * u >= nt))
),
sig AS ({mh}),
bands0 AS (
{_BANDS_SQL}
),
bands AS (
  SELECT doc_id, band, band_key FROM bands0
  QUALIFY count(*) OVER (PARTITION BY band, band_key)
          <= {dedup.MAX_BUCKET_SIZE}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
         FROM kept),
edges AS (
  SELECT doc_a, doc_b FROM (
    SELECT p.doc_a, p.doc_b,
           round(len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
                 / (len(sa.s) + len(sb.s)
                    - len(list_filter(sa.s, x -> list_contains(sb.s, x)))),
                 4) AS jaccard
    FROM pairs p
    JOIN sets sa ON sa.doc_id = p.doc_a
    JOIN sets sb ON sb.doc_id = p.doc_b
  ) WHERE jaccard >= 0.5
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, a FROM sym
    UNION
    SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
  ) SELECT * FROM r
),
comp AS (SELECT a AS doc_id, min(b) AS component
         FROM reach GROUP BY a),
canon AS (
  SELECT k.doc_id, k.source, len(string_split(k.text, ' ')) AS ntok
  FROM kept k LEFT JOIN comp USING (doc_id)
  WHERE comp.component IS NULL OR comp.component = k.doc_id
),
c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(ntok) AS BIGINT) AS n_tokens
      FROM canon GROUP BY source),
s AS (SELECT source, n_kept, n_tokens,
             CAST(floor(sqrt(n_tokens)) AS BIGINT) AS sq FROM c),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_tot,
             CAST(sum(sq) AS BIGINT) AS s_tot FROM s)
SELECT aud.source,
       CAST(aud.n_fetched AS BIGINT) AS n_fetched,
       CAST(aud.warc_records AS BIGINT) AS warc_records,
       CAST(aud.n_links AS BIGINT) AS n_links,
       s.n_kept, s.n_tokens,
       CAST(s.n_tokens * 1000000 // t.n_tot AS BIGINT) AS p_ppm,
       CAST(s.sq * 1000000 // t.s_tot AS BIGINT) AS w_ppm
FROM aud LEFT JOIN s USING (source) CROSS JOIN t
"""


@q("q133_crawl_pipeline", _q133_sql())
def q133_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import band_store, crawl_store, dedup
    from ecmm428_pycart_spark.datapipe.components import (
        connected_components)
    from ecmm428_pycart_spark.datapipe.text import (lang_id,
                                                    mixing_weights,
                                                    with_text_stats)

    # fetch + capture + production read path — served from the
    # write-once extracted-corpus store (crawl_store.crawl_html): the
    # WARC/HTML Arrow pass runs once PER CORPUS, not once per query,
    # and the audit + filter branches read a doc_id-clustered scan.
    corpus = crawl_store.crawl_html(spark, sf_dir)
    audit = (corpus.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_fetched"),
                  F.sum("n_records").cast("long").alias("warc_records"),
                  F.sum("n_links").cast("long").alias("n_links")))
    en = lang_id(corpus).filter(F.col("pred_lang") == "en")
    st = with_text_stats(en)
    kept = (st.filter(
        ((F.col("n_tokens") <= 100) & (F.col("n_unique_tokens") >= 20))
        | ((F.col("n_tokens") > 100)
           & (F.col("n_unique_tokens") * 5 >= F.col("n_tokens"))))
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=True))   # feeds pairs + verify + keep
    # dedup stage: the extracted corpus's MinHash band index comes
    # from the band store (crawl_html variant), semi-joined down to
    # the lang/quality survivors — band keys are per-doc pure, so
    # this reproduces lsh_candidate_pairs(kept) exactly
    pairs = band_store.candidate_pairs(spark, sf_dir, docs=kept,
                                       variant="crawl_html")
    edges = dedup.jaccard_pairs(kept, pairs, threshold=0.5)
    cc = connected_components(edges)
    canon = (kept.join(cc, kept.doc_id == cc.node, "left")
             .filter(F.col("component").isNull()
                     | (F.col("component") == F.col("doc_id")))
             .select("doc_id", "source", "text"))
    stats = (canon.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_kept")))
    mix = mixing_weights(canon)
    return (audit
            .join(stats, "source", "left")
            .join(mix.select("source", "n_tokens", "p_ppm", "w_ppm"),
                  "source", "left")
            .select("source", "n_fetched", "warc_records", "n_links",
                    "n_kept", "n_tokens", "p_ppm", "w_ppm"))


# ---------------------------------------------------------------------------
# Host-level web-graph construction from REAL href extraction
# (text.outlink_host_edges — html.parser attribute walk + urlsplit
# hostname, never regex): the crawl-graph pass between HTML fetch
# and host-level ranking/mixing decisions. Each doc's synthetic page
# carries absolute outlinks with the closed form
# dst = h{(doc_id*7 + pid) % 13} at link pids (pid % 4 == 1, not
# last), src = h{doc_id % 13}, so the oracle replays pure paragraph
# arithmetic while the engine genuinely parses quoted/decoy'd
# attribute syntax (both quote styles occur; data-href decoys must
# not leak — tests/test_round6_ops.py pins the hand cases).
# Scale shape: extraction is one zero-shuffle Arrow pass + explode;
# the only shuffle is the (src_host, dst_host)-keyed aggregation —
# exactly the 100 TB crawl-graph build (CPU-linear parse, one
# edge-keyed groupBy, 13x13-bounded output).
# ---------------------------------------------------------------------------
@q("d93_outlink_graph", """
WITH d AS (SELECT doc_id,
                  (len(string_split(text, ' ')) + 9) // 10 AS np
           FROM documents),
l AS (
  SELECT d.doc_id,
         'h' || CAST(d.doc_id % 13 AS VARCHAR) AS src_host,
         'h' || CAST((d.doc_id * 7 + i.i) % 13 AS VARCHAR) AS dst_host
  FROM d, unnest(range(0, d.np)) i(i)
  WHERE i.i % 4 = 1 AND i.i < d.np - 1
)
SELECT src_host,
       CAST(count(DISTINCT dst_host) AS BIGINT) AS out_hosts,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM l GROUP BY src_host
""")
def d93_outlink_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import crawl_store

    # href extraction served from the write-once store (one Arrow
    # parse per corpus, shared with d94/g41) — values identical to a
    # fresh outlink_host_edges pass, pinned by tests/test_crawl_store
    edges = crawl_store.crawl_links(spark, sf_dir)
    return (edges.groupBy("src_host")
            .agg(F.countDistinct("dst_host").alias("out_hosts"),
                 F.count(F.lit(1)).alias("n_links"),
                 F.countDistinct("doc_id").alias("n_docs")))


# ---------------------------------------------------------------------------
# Decontaminated-curation macro (the q95/q133 sibling for EVAL-SET
# HYGIENE — the pass every benchmark-respecting training pipeline
# runs, Brown et al. 2020 appx C / Dodge et al. 2021): hold out the
# d35-convention eval split (doc_id % 40 == 0), exact-dedup the
# train side (md5 canonical keep), drop every train doc sharing
# >= 8 distinct word-4-grams with ANY eval doc (Bloom-prefiltered
# map-side membership + exact confirm join — false positives removed
# by the confirm, false negatives impossible, so the result equals
# the pure-SQL form the oracle states), then temperature-mix what
# survives. Per-source accounting of every stage. Scale shape: the
# Bloom bitmap is ONE aggregate broadcast long after the raw eval
# shingle set is not broadcastable; the train side never shuffles
# for the membership test; dedup is one md5 groupBy; mixing is one
# groupBy(source) + a 1-row broadcast total.
# ---------------------------------------------------------------------------
@q("q134_decontaminated_curation", """
WITH train AS (SELECT * FROM documents WHERE doc_id % 40 <> 0),
canon AS (SELECT min(doc_id) AS doc_id FROM train GROUP BY md5(text)),
corpus AS (SELECT t.* FROM train t JOIN canon USING (doc_id)),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id, array_to_string(t[i.i:i.i+3], ' ') AS g
       FROM toks, unnest(range(1, len(t) - 2)) AS i(i)),
eval_g AS (SELECT DISTINCT g FROM sh WHERE doc_id % 40 = 0),
tr_sh AS (SELECT DISTINCT s.doc_id, s.g FROM sh s
          JOIN corpus c USING (doc_id)),
shared AS (SELECT doc_id, count(*) AS n_shared
           FROM tr_sh JOIN eval_g USING (g) GROUP BY doc_id),
contam AS (SELECT doc_id FROM shared WHERE n_shared >= 8),
kept AS (SELECT c.doc_id, c.source,
                len(string_split(c.text, ' ')) AS ntok
         FROM corpus c LEFT JOIN contam USING (doc_id)
         WHERE contam.doc_id IS NULL),
a AS (SELECT source,
             CAST(count(*) AS BIGINT) AS n_train,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_dedup
      FROM train GROUP BY source),
cc AS (SELECT c.source, CAST(count(*) AS BIGINT) AS n_contaminated
       FROM corpus c JOIN contam USING (doc_id) GROUP BY c.source),
k AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(ntok) AS BIGINT) AS n_tokens
      FROM kept GROUP BY source),
s AS (SELECT source, n_kept, n_tokens,
             CAST(floor(sqrt(n_tokens)) AS BIGINT) AS sq FROM k),
t2 AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_tot,
              CAST(sum(sq) AS BIGINT) AS s_tot FROM s)
SELECT a.source, a.n_train, a.n_dedup,
       CAST(coalesce(cc.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       s.n_kept, s.n_tokens,
       CAST(s.sq * 1000000 // t2.s_tot AS BIGINT) AS w_ppm
FROM a LEFT JOIN cc USING (source) LEFT JOIN s USING (source)
CROSS JOIN t2
""")
def q134_decontaminated_curation(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import dedup
    from ecmm428_pycart_spark.datapipe.dedup import exact_dup_groups
    from ecmm428_pycart_spark.datapipe.text import mixing_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")
    train = docs.filter(F.col("doc_id") % 40 != 0)
    canon = (exact_dup_groups(train)
             .select(F.col("canonical_id").alias("doc_id")))
    # deduped corpus feeds the shingle pass, the contamination join,
    # and the keep chain — materialize once
    corpus = (train.join(canon, "doc_id", "left_semi")
              .localCheckpoint(eager=True))
    eval_g = (docs.filter(F.col("doc_id") % 40 == 0)
              .select(F.explode(dedup.shingle_set(F.col("text"), 4))
                      .alias("g")).distinct())
    tr_sh = (corpus.select(
        "doc_id", F.explode(dedup.shingle_set(F.col("text"), 4))
        .alias("g")).distinct())
    bloom = dedup.bloom_build(eval_g, "g")
    cand = dedup.bloom_prefilter(tr_sh, "g", bloom)
    contam = (cand.join(F.broadcast(eval_g), "g")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_shared"))
              .filter(F.col("n_shared") >= 8)
              .select("doc_id"))
    kept = corpus.join(contam, "doc_id", "left_anti")
    a = (train.groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_train"),
              F.countDistinct(F.md5("text")).alias("n_dedup")))
    cc_ = (corpus.join(contam, "doc_id", "left_semi")
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_contaminated")))
    k = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    mix = mixing_weights(kept)
    return (a.join(cc_, "source", "left")
            .join(k, "source", "left")
            .join(mix.select("source", "n_tokens", "w_ppm"),
                  "source", "left")
            .select("source", "n_train", "n_dedup",
                    F.coalesce("n_contaminated", F.lit(0)).cast("long")
                    .alias("n_contaminated"),
                    "n_kept", "n_tokens", "w_ppm"))


# ---------------------------------------------------------------------------
# Re-crawl delta ingestion (the CONTINUOUS-crawl macro next to q133's
# one-shot pipeline): build the d68-convention v2 snapshot (removed
# % 31, changed % 13 with a ' [rev2]' suffix, added % 41 as verbatim
# copies under new ids), run the REAL snapshot_diff operator to
# classify rows, then ingest ONLY the delta (added + changed) with
# two dedup gates every incremental pipeline needs: drop delta docs
# whose md5 already exists in the retained corpus (the 'added' copies
# are verbatim, so this gate genuinely fires), then canonical-keep
# within the delta itself (each % 41 page is fetched TWICE under two
# new ids — the same content behind two URLs, the classic re-crawl
# shape — so surviving pairs genuinely collapse here). Per-source
# accounting of every gate. One pure-SQL oracle replays the
# conventions and both md5 gates.
# Scale shape: diff is one full-outer join on the snapshot key; the
# existing-content gate is one md5 semi-join against the retained
# side (hash-keyed, broadcastable while the retained md5 set is
# small, shuffled-hash beyond); within-delta keep is one md5 groupBy.
# ---------------------------------------------------------------------------
@q("q135_recrawl_delta", """
WITH v1 AS (SELECT doc_id, source, text FROM documents),
surv AS (SELECT doc_id, source,
                CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
                     ELSE text END AS text
         FROM v1 WHERE doc_id % 31 <> 0),
newd AS (SELECT doc_id + 1000000 AS doc_id, source, text
         FROM v1 WHERE doc_id % 41 = 0
         UNION ALL
         SELECT doc_id + 2000000 AS doc_id, source, text
         FROM v1 WHERE doc_id % 41 = 0),
chg AS (SELECT doc_id, source, text FROM surv WHERE doc_id % 13 = 0),
delta AS (SELECT doc_id, source, text, 'changed' AS st FROM chg
          UNION ALL
          SELECT doc_id, source, text, 'added' AS st FROM newd),
retained AS (SELECT * FROM surv WHERE doc_id % 13 <> 0),
rh AS (SELECT DISTINCT md5(text) AS h FROM retained),
dh AS (SELECT doc_id, source, text, st, md5(text) AS h FROM delta),
fresh AS (SELECT dh.* FROM dh LEFT JOIN rh USING (h)
          WHERE rh.h IS NULL),
keep AS (SELECT h, min(doc_id) AS doc_id FROM fresh GROUP BY h),
ing AS (SELECT f.* FROM fresh f JOIN keep USING (h, doc_id)),
src AS (SELECT DISTINCT source FROM v1),
d_ AS (SELECT source,
              CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_added,
              CAST(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_changed
       FROM delta GROUP BY source),
f_ AS (SELECT source, CAST(count(*) AS BIGINT) AS n_fresh
       FROM fresh GROUP BY source),
i_ AS (SELECT source, CAST(count(*) AS BIGINT) AS n_ingested,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                AS tokens_ingested
       FROM ing GROUP BY source)
SELECT src.source,
       CAST(coalesce(d_.n_added, 0) AS BIGINT) AS n_added,
       CAST(coalesce(d_.n_changed, 0) AS BIGINT) AS n_changed,
       CAST(coalesce(d_.n_added, 0) + coalesce(d_.n_changed, 0)
            - coalesce(f_.n_fresh, 0) AS BIGINT) AS n_dropped_existing,
       CAST(coalesce(f_.n_fresh, 0) - coalesce(i_.n_ingested, 0)
            AS BIGINT) AS n_dropped_within,
       CAST(coalesce(i_.n_ingested, 0) AS BIGINT) AS n_ingested,
       CAST(coalesce(i_.tokens_ingested, 0) AS BIGINT)
         AS tokens_ingested
FROM src LEFT JOIN d_ USING (source) LEFT JOIN f_ USING (source)
LEFT JOIN i_ USING (source)
""")
def q135_recrawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.operators.relational import snapshot_diff

    v1 = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                               "text")
    surv = (v1.filter(F.col("doc_id") % 31 != 0)
            .withColumn("text",
                        F.when(F.col("doc_id") % 13 == 0,
                               F.concat(F.col("text"),
                                        F.lit(" [rev2]")))
                        .otherwise(F.col("text"))))
    adds = v1.filter(F.col("doc_id") % 41 == 0)
    newd = (adds.withColumn("doc_id", F.col("doc_id") + 1000000)
            .unionByName(adds.withColumn("doc_id",
                                         F.col("doc_id") + 2000000)))
    v2 = surv.unionByName(newd).localCheckpoint(eager=True)

    # REAL diff classification (the d68 operator), not the closed form
    d = snapshot_diff(v1, v2, "doc_id", ["text"])
    delta = (v2.join(d.filter(F.col("status").isin("added", "changed"))
                     .select("doc_id", "status"), "doc_id"))
    retained = v2.join(d.filter(F.col("status") == "unchanged")
                       .select("doc_id"), "doc_id", "left_semi")

    rh = retained.select(F.md5("text").alias("h")).distinct()
    dh = delta.withColumn("h", F.md5("text"))
    fresh = dh.join(rh, "h", "left_anti").localCheckpoint(eager=True)
    keep = fresh.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    ing = fresh.join(keep, ["h", "doc_id"], "left_semi")

    src = v1.select("source").distinct()
    d_ = (delta.groupBy("source")
          .agg(F.sum((F.col("status") == "added").cast("long"))
               .alias("n_added"),
               F.sum((F.col("status") == "changed").cast("long"))
               .alias("n_changed")))
    f_ = fresh.groupBy("source").agg(F.count(F.lit(1)).alias("n_fresh"))
    i_ = (ing.groupBy("source")
          .agg(F.count(F.lit(1)).alias("n_ingested"),
               F.sum(F.size(F.split("text", " "))).cast("long")
               .alias("tokens_ingested")))
    z = F.lit(0).cast("long")
    return (src.join(d_, "source", "left").join(f_, "source", "left")
            .join(i_, "source", "left")
            .select(
                "source",
                F.coalesce("n_added", z).alias("n_added"),
                F.coalesce("n_changed", z).alias("n_changed"),
                (F.coalesce("n_added", z) + F.coalesce("n_changed", z)
                 - F.coalesce("n_fresh", z)).alias("n_dropped_existing"),
                (F.coalesce("n_fresh", z) - F.coalesce("n_ingested", z))
                .alias("n_dropped_within"),
                F.coalesce("n_ingested", z).alias("n_ingested"),
                F.coalesce("tokens_ingested", z)
                .alias("tokens_ingested")))


# ---------------------------------------------------------------------------
# Quality-cascade attrition funnel (the FineWeb/DataComp reporting
# shape: a curation pipeline is judged by its per-stage retention
# curve, not just its final corpus): five CUMULATIVE stages over
# documents — all -> stopword lang-id 'en' (d03) -> exact-integer
# quality floor (q133's form) -> minhash-LSH near-dup canonical keep
# (d06/d15; exact dedup is vacuous on this corpus — the exact-dup
# groups all live below the quality floor — so the funnel uses the
# stage that genuinely fires: 376->177 / 367->155 / 3695->3190 across
# the three scales) -> hashing-TF linear classifier keep (d52's
# exact-integer logit, no float boundary; keeps 3/5/124) — each
# reported as (stage, n_docs, n_tokens, retained_ppm vs stage 0).
# Per-doc flags (lang hits, token stats, classifier logit) are
# computed in ONE pass each over the corpus; the near-dup stage adds
# the banded-LSH + verify + components chain over stage-2 survivors
# only. The oracle chains the d03/d52 SQL fragments, the integer
# quality form, and the d15 recursive-CTE components — a drift in
# ANY stage moves every later row's counts.
# ---------------------------------------------------------------------------
def _q136_sql() -> str:
    from ecmm428_pycart_spark.benchmarks.datapipe_queries import (
        _BANDS_SQL, _MINHASH_SQL, _SW_VALUES)
    from ecmm428_pycart_spark.datapipe import dedup

    mh = _MINHASH_SQL.replace("FROM documents", "FROM kept")
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents),
sw(cand_lang, tok) AS (VALUES {_SW_VALUES}),
hits AS (SELECT doc_id, cand_lang, count(*) AS n_hits
         FROM tok JOIN sw USING (tok) GROUP BY 1, 2),
best AS (SELECT doc_id, cand_lang FROM hits
         QUALIFY row_number() OVER (PARTITION BY doc_id
                 ORDER BY n_hits DESC, cand_lang ASC) = 1),
fl AS (
  SELECT d.doc_id, d.text,
         len(string_split(d.text, ' ')) AS nt,
         len(list_distinct(string_split(d.text, ' '))) AS u,
         coalesce(b.cand_lang = 'en', FALSE) AS f_lang
  FROM documents d LEFT JOIN best b USING (doc_id)
),
f2 AS (SELECT *, f_lang AND ((nt <= 100 AND u >= 20)
                             OR (nt > 100 AND 5 * u >= nt)) AS f_q
       FROM fl),
kept AS (SELECT doc_id, text, nt FROM f2 WHERE f_q),
sig AS ({mh}),
bands0 AS (
{_BANDS_SQL}
),
bands AS (
  SELECT doc_id, band, band_key FROM bands0
  QUALIFY count(*) OVER (PARTITION BY band, band_key)
          <= {dedup.MAX_BUCKET_SIZE}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
         FROM kept),
edges AS (
  SELECT doc_a, doc_b FROM (
    SELECT p.doc_a, p.doc_b,
           round(len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
                 / (len(sa.s) + len(sb.s)
                    - len(list_filter(sa.s, x -> list_contains(sb.s, x)))),
                 4) AS jaccard
    FROM pairs p
    JOIN sets sa ON sa.doc_id = p.doc_a
    JOIN sets sb ON sb.doc_id = p.doc_b
  ) WHERE jaccard >= 0.5
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, a FROM sym
    UNION
    SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
  ) SELECT * FROM r
),
comp AS (SELECT a AS doc_id, min(b) AS component
         FROM reach GROUP BY a),
canon AS (SELECT k.doc_id, k.nt FROM kept k LEFT JOIN comp USING (doc_id)
          WHERE comp.component IS NULL OR comp.component = k.doc_id),
cells AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS UBIGINT) % 64
           AS b,
         CAST(count(*) AS BIGINT) AS v
  FROM tok WHERE tok <> '' GROUP BY 1, 2
),
wt AS (
  SELECT i AS b,
         CAST(floor(((CAST(concat('0x', substr(md5('clfw:' || i), 1, 8))
                           AS UBIGINT) + 0.5) / 4294967296.0) * 20000)
              AS BIGINT) - 10000 AS wi
  FROM range(64) t(i)
),
clf AS (SELECT doc_id, sum(v * wi) AS raw, sum(v) AS tot
        FROM cells JOIN wt USING (b) GROUP BY 1),
stages AS (
  SELECT '0_all' AS stage, count(*) AS n_docs, sum(nt) AS n_tokens
  FROM f2
  UNION ALL
  SELECT '1_lang', count(*), sum(nt) FROM f2 WHERE f_lang
  UNION ALL
  SELECT '2_quality', count(*), sum(nt) FROM f2 WHERE f_q
  UNION ALL
  SELECT '3_neardup', count(*), sum(nt) FROM canon
  UNION ALL
  SELECT '4_classifier', count(*), sum(nt)
  FROM canon JOIN clf USING (doc_id) WHERE tot > 0 AND raw >= 0
),
t AS (SELECT count(*) AS n0 FROM f2)
SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_docs * 1000000 // t.n0 AS BIGINT) AS retained_ppm
FROM stages, t
"""


@q("q136_quality_cascade", _q136_sql())
def q136_quality_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import band_store, dedup
    from ecmm428_pycart_spark.datapipe.components import (
        connected_components)
    from ecmm428_pycart_spark.datapipe.text import (classifier_scores,
                                                    lang_id,
                                                    with_text_stats)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")
    st = with_text_stats(lang_id(docs))
    f_q = (((F.col("n_tokens") <= 100)
            & (F.col("n_unique_tokens") >= 20))
           | ((F.col("n_tokens") > 100)
              & (F.col("n_unique_tokens") * 5 >= F.col("n_tokens"))))
    fl = (st.select("doc_id", "text",
                    F.col("n_tokens").alias("nt"),
                    (F.col("pred_lang") == "en").alias("f_lang"),
                    ((F.col("pred_lang") == "en") & f_q).alias("f_q"))
          .localCheckpoint(eager=True))  # five stage rollups, one pass
    kept = (fl.filter("f_q").select("doc_id", "text", "nt")
            .localCheckpoint(eager=True))  # feeds pairs/verify/keep
    # band index from the store, semi-joined to the quality survivors
    pairs = band_store.candidate_pairs(spark, sf_dir, docs=kept)
    edges = dedup.jaccard_pairs(kept, pairs, threshold=0.5)
    cc = connected_components(edges)
    canon = (kept.join(cc, kept.doc_id == cc.node, "left")
             .filter(F.col("component").isNull()
                     | (F.col("component") == F.col("doc_id")))
             .select("doc_id", "nt", "text"))
    # score only the near-dup survivors: classifier_scores is per-doc
    # pure and inner-joined to canon below, so pre-filtering is
    # semantics-preserving and skips hashing-TF over the ~36% of the
    # corpus the cascade already dropped (r12 profile,
    # docs/ROUND12_NOTES.md)
    clf = classifier_scores(canon.select("doc_id", "text")).select(
        "doc_id", F.col("keep").alias("f_clf"))
    canon = canon.select("doc_id", "nt")
    final = (canon.join(clf, "doc_id")
             .filter("f_clf").select("doc_id", "nt"))

    def stage(name, d):
        return (d.agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum("nt").cast("long").alias("n_tokens"))
                .select(F.lit(name).alias("stage"), "n_docs",
                        "n_tokens"))

    out = (stage("0_all", fl)
           .unionByName(stage("1_lang", fl.filter("f_lang")))
           .unionByName(stage("2_quality", fl.filter("f_q")))
           .unionByName(stage("3_neardup", canon))
           .unionByName(stage("4_classifier", final)))
    total = fl.agg(F.count(F.lit(1)).alias("n0"))
    return (out.crossJoin(F.broadcast(total))
            .select("stage", "n_docs", "n_tokens",
                    F.expr("n_docs * 1000000 div n0")
                    .alias("retained_ppm")))


# ---------------------------------------------------------------------------
# Crawl-frontier politeness macro (the stage between d93's outlink
# extraction and the next fetch round — every crawler's dedup +
# robots gate): REAL href extraction (text.outlink_host_edges,
# html.parser) produces the candidate edges; each link materializes
# a target page path from the (dst-host k, src-doc % 10) closed form
# (the d83 path classes, so the REP rules genuinely split the
# frontier); the frontier is the DISTINCT (dst_host, path) set
# (multi-source links to one page collapse — the dedup every
# frontier queue needs); then RFC 9309 longest-match robots
# filtering (text.robots_filter, the d83 operator + ruleset) gates
# each page. Per-dst-host rollup: raw link count, deduped page
# count, allowed/blocked split. Scale shape: extraction is one
# Arrow pass + explode; frontier dedup is one (host, path)-keyed
# distinct; the robots match is a broadcast prefix join against a
# constant 6-row ruleset (dimension data — the corpus never
# shuffles for it).
# ---------------------------------------------------------------------------
_D94_PATH = """CASE k % 6
  WHEN 0 THEN '/private/doc' || (doc_id % 10)
  WHEN 1 THEN '/private/pub/doc' || (doc_id % 10)
  WHEN 2 THEN '/tmp/cache' || (doc_id % 10)
  WHEN 3 THEN '/tmpxtra/doc' || (doc_id % 10)
  WHEN 4 THEN '/dup/page' || (doc_id % 10)
  ELSE '/public/p' || (doc_id % 5) END"""


@q("d94_crawl_frontier", f"""
WITH d AS (SELECT doc_id,
                  (len(string_split(text, ' ')) + 9) // 10 AS np
           FROM documents),
l AS (
  SELECT d.doc_id, (d.doc_id * 7 + i.i) % 13 AS k
  FROM d, unnest(range(0, d.np)) i(i)
  WHERE i.i % 4 = 1 AND i.i < d.np - 1
),
cand AS (SELECT doc_id, k, 'h' || CAST(k AS VARCHAR) AS dst_host,
                {_D94_PATH} AS path
         FROM l),
frontier AS (SELECT DISTINCT dst_host, path FROM cand),
r(rule_id, rtype, prefix) AS (VALUES {_D83_RULES}),
j AS (
  SELECT f.dst_host, f.path, r.rtype, len(r.prefix) AS plen,
         r.rule_id
  FROM frontier f LEFT JOIN r ON starts_with(f.path, r.prefix)
),
w AS (
  SELECT dst_host, path, rtype,
         row_number() OVER (PARTITION BY dst_host, path
                            ORDER BY plen DESC NULLS LAST,
                            (rtype = 'allow') DESC NULLS LAST,
                            rule_id ASC NULLS LAST) AS rn
  FROM j
),
gated AS (SELECT dst_host, path,
                 coalesce(rtype = 'allow', TRUE) AS allowed
          FROM w WHERE rn = 1),
lc AS (SELECT dst_host, CAST(count(*) AS BIGINT) AS n_links
       FROM cand GROUP BY dst_host)
SELECT lc.dst_host, lc.n_links,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_allowed,
       CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
         AS n_blocked
FROM gated JOIN lc USING (dst_host)
GROUP BY lc.dst_host, lc.n_links
""")
def d94_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Row

    from ecmm428_pycart_spark.datapipe import crawl_store
    from ecmm428_pycart_spark.datapipe.text import robots_filter

    # real html.parser extraction, served from the write-once store
    edges = crawl_store.crawl_links(spark, sf_dir)
    cand = (edges
            .withColumn("k", F.substring("dst_host", 2, 10).cast("int"))
            .withColumn("path", F.expr(_D94_PATH))
            .select("doc_id", "dst_host", "path"))
    frontier = cand.select("dst_host", "path").distinct()
    rules = spark.createDataFrame(
        [Row(rule_id=1, rtype="disallow", prefix="/private"),
         Row(rule_id=2, rtype="allow", prefix="/private/pub"),
         Row(rule_id=3, rtype="disallow", prefix="/tmp"),
         Row(rule_id=4, rtype="allow", prefix="/tmpx"),
         Row(rule_id=5, rtype="disallow", prefix="/dup"),
         Row(rule_id=6, rtype="allow", prefix="/dup")])
    gated = robots_filter(frontier, rules)
    lc = cand.groupBy("dst_host").agg(F.count(F.lit(1)).alias("n_links"))
    return (gated.groupBy("dst_host")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum(F.col("allowed").cast("long")).alias("n_allowed"),
                 F.sum((~F.col("allowed")).cast("long"))
                 .alias("n_blocked"))
            .join(lc, "dst_host")
            .select("dst_host", "n_links", "n_pages", "n_allowed",
                    "n_blocked"))


# ---------------------------------------------------------------------------
# Host-level PageRank over the REAL href-extracted web graph (the
# crawl -> graph join-up: d93's outlink_host_edges feeding g10's
# iterative rank loop) — the page-importance prior every crawl
# scheduler and quality-weighted mixer consumes (Page et al. 1998;
# Common Crawl publishes exactly this host-level ranking). Edges are
# WEIGHTED by link count and every rank quantity is EXACT INTEGER
# (rank in 1e-12 units, per-edge floor division, mixing_weights'
# convention) so no float ever crosses the engine boundary — unlike
# g10's float ppm, three chained iterations stay hash-exact by
# construction. The oracle replays d93's paragraph-arithmetic closed
# form for the edges and unrolls the same three iterations as CTEs.
# Scale shape (100 TB crawl): the ONLY corpus-sized work is the
# zero-shuffle Arrow extraction + one (src,dst)-keyed groupBy; the
# iteration runs on the host-level graph (dimension-sized after
# aggregation — 13 hosts here, ~100M hosts in a real crawl, still
# node-keyed shuffles with bounded fan-in), localCheckpoint pinning
# plan depth per round exactly like g10/datapipe.graph.
# ---------------------------------------------------------------------------
def _g41_sql() -> str:
    edges = """
d AS (SELECT doc_id,
             (len(string_split(text, ' ')) + 9) // 10 AS np
      FROM documents),
l AS (
  SELECT d.doc_id,
         'h' || CAST(d.doc_id % 13 AS VARCHAR) AS s,
         'h' || CAST((d.doc_id * 7 + i.i) % 13 AS VARCHAR) AS t
  FROM d, unnest(range(0, d.np)) i(i)
  WHERE i.i % 4 = 1 AND i.i < d.np - 1
),
e AS (SELECT s, t, count(*) AS w FROM l GROUP BY 1, 2),
ow AS (SELECT s, sum(w) AS ow FROM e GROUP BY 1),
nodes AS (SELECT DISTINCT h FROM
          (SELECT s AS h FROM e UNION ALL SELECT t FROM e)),
n AS (SELECT count(*) AS cnt FROM nodes),
r0 AS (SELECT h, 1000000000000 // cnt AS r FROM nodes, n)"""
    iters = ""
    prev = "r0"
    for k in (1, 2, 3):
        iters += f""",
c{k} AS (SELECT e.t AS h, sum(({prev}.r * e.w) // ow.ow) AS c
       FROM e JOIN {prev} ON e.s = {prev}.h
       JOIN ow ON e.s = ow.s GROUP BY 1),
r{k} AS (SELECT nodes.h,
              (15 * 1000000000000) // (100 * n.cnt)
              + (85 * coalesce(c{k}.c, 0)) // 100 AS r
       FROM nodes CROSS JOIN n LEFT JOIN c{k} ON nodes.h = c{k}.h)"""
        prev = f"r{k}"
    return f"""
WITH {edges}{iters},
inw AS (SELECT t AS h, sum(w) AS in_links FROM e GROUP BY 1)
SELECT r3.h AS host,
       CAST(r3.r AS BIGINT) AS rank_e12,
       CAST(coalesce(inw.in_links, 0) AS BIGINT) AS in_links,
       CAST(coalesce(ow.ow, 0) AS BIGINT) AS out_links
FROM r3 LEFT JOIN inw ON r3.h = inw.h LEFT JOIN ow ON r3.h = ow.s
"""


@q("g41_host_pagerank", _g41_sql())
def g41_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import crawl_store

    # the one corpus-sized pass — the href extraction — is served
    # from the write-once store (shared with d93/d94); checkpoint the
    # aggregated edges so the 3-round loop never rescans the corpus
    e = (crawl_store.crawl_links(spark, sf_dir)
         .groupBy(F.col("src_host").alias("s"),
                  F.col("dst_host").alias("t"))
         .agg(F.count(F.lit(1)).alias("w"))
         .transform(checkpoint))
    ow = e.groupBy("s").agg(F.sum("w").alias("ow"))
    nodes = (e.select(F.col("s").alias("h"))
             .union(e.select("t")).distinct())
    n_df = nodes.agg(F.count(F.lit(1)).alias("cnt"))
    ranks = (nodes.crossJoin(F.broadcast(n_df))
             .select("h", F.expr("1000000000000 div cnt").alias("r"))
             .transform(checkpoint))
    ed = e.join(ow, "s")
    for _ in range(3):
        # exact floor(r*w/ow) with BOUNDED int64 intermediates: with
        # r = q*ow + m, r*w/ow = q*w + m*w/ow exactly, and w <= ow
        # bounds q*w <= r (~1e12) while m*w < ow^2 — safe for hosts
        # up to ~3e9 outlinks (vs the naive r*w form, which wrapped
        # silently in non-ANSI Spark past w ~ 9.2e6 while DuckDB's
        # HUGEINT kept going). Values identical to the oracle's
        # (r * w) // ow at every scale.
        contrib = (ed.join(ranks, ed["s"] == ranks["h"])
                   .select(F.col("t").alias("h"),
                           F.expr("(r div ow) * w"
                                  " + ((r % ow) * w) div ow")
                           .alias("ct"))
                   .groupBy("h").agg(F.sum("ct").alias("c")))
        ranks = (nodes.crossJoin(F.broadcast(n_df))
                 .join(contrib, "h", "left")
                 .select("h",
                         (F.expr("15 * 1000000000000 div (100 * cnt)")
                          + F.expr("85 * coalesce(c, 0L) div 100"))
                         .alias("r"))
                 .transform(checkpoint))
    inw = (e.groupBy(F.col("t").alias("h"))
           .agg(F.sum("w").alias("in_links")))
    return (ranks
            .join(inw, "h", "left")
            .join(ow.select(F.col("s").alias("h"),
                            F.col("ow").alias("out_links")), "h", "left")
            .select(F.col("h").alias("host"),
                    F.col("r").cast("long").alias("rank_e12"),
                    F.coalesce("in_links", F.lit(0)).cast("long")
                    .alias("in_links"),
                    F.coalesce("out_links", F.lit(0)).cast("long")
                    .alias("out_links")))


# ---------------------------------------------------------------------------
# Two-stage near-dup: lexical MinHash-LSH candidates CONFIRMED
# SEMANTICALLY via the doc's embedding (documents ⋈ embeddings on
# the shared id space) — the FineWeb/SemDeDup-era composition the
# dedup family still lacked: fuzzy-lexical dedup (d06) and
# embedding near-dup (s05) each alone miss what the other catches,
# so production pipelines score LSH candidates on BOTH axes and
# route by kind (pure-lexical = template spam, pure-semantic =
# paraphrase, both = true dup). Emits every candidate pair that
# fires either test, labeled 'lexical' / 'semantic' / 'both';
# rounding-before-threshold on both scores keeps the boundary
# engine-exact (jaccard@4, cosine@6 — d06/s05 conventions).
# Scale shape (100 TB): pair volume is the LSH-banded candidate set
# (MAX_BUCKET_SIZE-capped, never all-pairs); the embedding joins
# are doc-id-keyed hash joins reading only candidate ids; cosine is
# a native zip_with/aggregate fold (JVM, no UDF).
# ---------------------------------------------------------------------------
def _d95_sql() -> str:
    from ecmm428_pycart_spark.benchmarks.datapipe_queries import (
        _BANDS_SQL, _MINHASH_SQL)
    from ecmm428_pycart_spark.datapipe import dedup

    return f"""
WITH sig AS ({_MINHASH_SQL}),
bands0 AS (
{_BANDS_SQL}
),
bands AS (
  SELECT doc_id, band, band_key FROM bands0
  QUALIFY count(*) OVER (PARTITION BY band, band_key)
          <= {dedup.MAX_BUCKET_SIZE}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
         FROM documents),
jac AS (
  SELECT p.doc_a, p.doc_b,
         round(len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
               / (len(sa.s) + len(sb.s)
                  - len(list_filter(sa.s, x -> list_contains(sb.s, x)))),
               4) AS jaccard
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.doc_a
  JOIN sets sb ON sb.doc_id = p.doc_b
),
cosd AS (
  SELECT doc_a, doc_b,
         round(sum(av * bv)
               / (sqrt(sum(av * av)) * sqrt(sum(bv * bv))), 6) AS cos
  FROM (SELECT p.doc_a, p.doc_b,
               unnest(ea.embedding)::DOUBLE AS av,
               unnest(eb.embedding)::DOUBLE AS bv
        FROM pairs p
        JOIN embeddings ea ON ea.vec_id = p.doc_a
        JOIN embeddings eb ON eb.vec_id = p.doc_b)
  GROUP BY 1, 2
)
SELECT j.doc_a, j.doc_b, j.jaccard, c.cos,
       CASE WHEN j.jaccard >= 0.5 AND c.cos >= 0.30 THEN 'both'
            WHEN j.jaccard >= 0.5 THEN 'lexical'
            ELSE 'semantic' END AS dup_kind
FROM jac j JOIN cosd c USING (doc_a, doc_b)
WHERE j.jaccard >= 0.5 OR c.cos >= 0.30
"""


@q("d95_twostage_neardup", _d95_sql())
def d95_twostage_neardup(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import band_store, dedup, similarity

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # MinHash+banding served from the write-once band store
    pairs = band_store.candidate_pairs(spark, sf_dir)
    jac = dedup.jaccard_pairs(docs, pairs, threshold=0.0)
    ea = emb.select(F.col("vec_id").alias("doc_a"),
                    F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("doc_b"),
                    F.col("embedding").alias("eb"))
    scored = (jac.join(ea, "doc_a").join(eb, "doc_b")
              .withColumn("cos", F.round(
                  similarity.cosine(F.col("ea"), F.col("eb")), 6)))
    lex = F.col("jaccard") >= 0.5
    sem = F.col("cos") >= 0.30
    return (scored.filter(lex | sem)
            .select("doc_a", "doc_b", "jaccard", "cos",
                    F.when(lex & sem, "both")
                    .when(lex, "lexical")
                    .otherwise("semantic").alias("dup_kind")))


# ---------------------------------------------------------------------------
# Search over what you crawled: the WARC -> HTML -> quality-floor
# corpus (q133's ingestion prefix) SERVED by BM25 sparse retrieval
# (d38's inverted-index join) — the crawl-to-query-time composition
# that closes the loop between ingestion and retrieval (every
# web-search and RAG-over-crawl stack is exactly this chain). The
# production read path genuinely runs: ISO 28500 WARC walk, request
# decoys skipped, stdlib html.parser visible-text extraction, the
# exact-integer d09 quality floor — because html_to_text(synth_html)
# == text is a proven identity, the oracle states the same BM25 over
# the quality-kept documents table directly; an extraction or
# framing bug changes tf/df/avgdl and every downstream hash.
# Scale shape (100 TB): ingestion is one zero-shuffle Arrow pass;
# BM25 reads ONLY the query terms' posting lists (broadcast term
# probe into the postings groupBy), doc stats ride a 1-row
# broadcast, top-k is a TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@q("q137_crawl_search", """
WITH st AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS nt,
         len(list_distinct(string_split(text, ' '))) AS u
  FROM documents
),
kept AS (
  SELECT doc_id, text FROM st
  WHERE (nt <= 100 AND u >= 20) OR (nt > 100 AND 5 * u >= nt)
),
terms AS (SELECT unnest(['join', 'scan', 'table']) AS w),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         FROM kept),
postings AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
dfreq AS (SELECT w, count(*) AS df FROM postings GROUP BY 1),
matched AS (
  SELECT p.doc_id, p.tf, d.df, l.dl, s.n_docs, s.avgdl
  FROM postings p
  JOIN terms t USING (w)
  JOIN dfreq d USING (w)
  JOIN doclen l USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id,
       round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * 2.2
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
         AS bm25
FROM matched
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 20
""")
def q137_crawl_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import crawl_store
    from ecmm428_pycart_spark.datapipe.text import (bm25_topk,
                                                    with_text_stats)

    # ingestion prefix served from the write-once extracted-corpus
    # store (shared with q133) — WARC walk + html.parser extraction
    # run once per corpus, not once per query
    corpus = (crawl_store.crawl_html(spark, sf_dir)
              .select("doc_id", "text"))
    st = with_text_stats(corpus)
    kept = (st.filter(
        ((F.col("n_tokens") <= 100) & (F.col("n_unique_tokens") >= 20))
        | ((F.col("n_tokens") > 100)
           & (F.col("n_unique_tokens") * 5 >= F.col("n_tokens"))))
        .select("doc_id", "text"))
    return bm25_topk(kept, "table scan join", k=20)


# ---------------------------------------------------------------------------
# Mixed-content WARC ingestion (the BINARY branch q133's HTML-only
# walk leaves open — real crawls carry images and audio next to
# pages): per doc a 2-record WARC capture whose response payload is
# the m34 mixed-media bytes (QOI/BMP/WAV/TIFF by doc_id % 4), then
# the production read path — ISO 28500 walk, request decoys
# skipped, magic-byte sniff, dispatch to the right REAL decoder —
# rolled up per (source, media_type) with the WARC framing audited
# (2 records, 1 response per doc). The oracle IS m34's generative
# algebra plus the framing arithmetic: mis-framed payloads sniff as
# 'unknown' and no cell survives. Scale shape: one zero-shuffle
# Arrow pass (encode -> walk -> sniff -> decode), CPU-linear per
# byte, one (source, media_type)-keyed groupBy.
# ---------------------------------------------------------------------------
def _m52_sql() -> str:
    from ecmm428_pycart_spark.benchmarks.queued6 import ORACLES as _Q6
    return f"""
WITH m34 AS ({_Q6["m34_mixed_media_dispatch"]})
SELECT source, media_type, n_docs, n_units, sum_val,
       CAST(2 * n_docs AS BIGINT) AS warc_records,
       CAST(n_docs AS BIGINT) AS n_responses
FROM m34
"""


@q("m52_warc_media_dispatch", _m52_sql())
def m52_warc_media_dispatch(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe import crawl_store

    # WARC walk + sniff + real decode served from the write-once
    # store — the CPU-linear byte work runs once per corpus
    st = crawl_store.crawl_media(spark, sf_dir)
    return (st.groupBy("source", "media_type")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_units").cast("long").alias("n_units"),
                 F.sum("sum_val").cast("long").alias("sum_val"),
                 F.sum("n_records").cast("long")
                 .alias("warc_records"),
                 F.sum("n_responses").cast("long")
                 .alias("n_responses"))
            .orderBy("source", "media_type"))


# ---------------------------------------------------------------------------
# Train-ready shard manifest (the step AFTER curation the pipeline
# still lacked: what comes out of the quality gate must land in
# fixed-token-budget packed shards before a trainer touches it —
# d21's greedy packing COMPOSED onto the exact-integer d09 quality
# floor, reporting per-shard doc/pack/token totals and the
# exact-integer pack-fill ratio in ppm). Fill close to 1e6 means the
# greedy binning wastes little budget; a skewed shard would surface
# here first. Scale shape (100 TB): the quality filter is native
# row-local exprs; packing shards by a real md5 hash byte so every
# running-sum window is partition-local (no global window); the
# manifest is one groupBy(shard) over the packed assignments — the
# whole plan is one shuffle on shard plus the window sort.
# ---------------------------------------------------------------------------
@q("q138_curated_packing", """
WITH st AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS nt,
         len(list_distinct(string_split(text, ' '))) AS u
  FROM documents
),
kept AS (
  SELECT doc_id, text FROM st
  WHERE (nt <= 100 AND u >= 20) OR (nt > 100 AND 5 * u >= nt)
),
base AS (
  SELECT doc_id, md5(doc_id::VARCHAR) AS h,
         len(string_split(text, ' ')) AS n,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::INTEGER % 16
           AS shard
  FROM kept
),
r AS (
  SELECT doc_id, shard, n,
         sum(n) OVER (PARTITION BY shard ORDER BY h, doc_id
                      ROWS UNBOUNDED PRECEDING) AS running
  FROM base
),
p AS (SELECT shard, n,
             CAST(floor((running - n) / 2048) AS BIGINT) AS pack_id
      FROM r)
SELECT CAST(shard AS INTEGER) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(n) * 1000000 // (count(DISTINCT pack_id) * 2048)
            AS BIGINT) AS fill_ppm
FROM p GROUP BY shard
""")
def q138_curated_packing(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.datapipe.text import (pack_sequences,
                                                    with_text_stats)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    st = with_text_stats(docs)
    kept = (st.filter(
        ((F.col("n_tokens") <= 100) & (F.col("n_unique_tokens") >= 20))
        | ((F.col("n_tokens") > 100)
           & (F.col("n_unique_tokens") * 5 >= F.col("n_tokens"))))
        .select("doc_id", "text"))
    packed = pack_sequences(kept, budget=2048, shards=16)
    return (packed.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("pack_id").alias("n_packs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.expr("sum(n_tokens) * 1000000 "
                        "div (count(DISTINCT pack_id) * 2048)")
                 .alias("fill_ppm")))
