"""The Stupid-Backoff LM count tables, served from the write-once
store (``datapipe/store.py``) to d37/d43 (full corpus, self-scored)
and q95 (exact-dedup survivors, self-scored).

- Stored: per variant (``documents``, ``documents_dedup``) the
  ``text.lm_count_tables`` output over that reference corpus — (w, cu)
  in ``uni/`` and (w1, w2, cb, cc) with the context denominator
  folded in ``bg/``, each sub-table with its own ``_SUCCESS``. All
  values are exact longs, so scores downstream are bit-identical to
  counting fresh. The 1-row total is NOT stored: it is re-derived at
  read as a global aggregate over ``uni``, because the plan-shape
  invariant (test_plan_shapes.py's BNLJ allowlist) needs every
  broadcast-nested-loop build side provably tiny from the plan, and a
  global Aggregate is provably 1 row where a 1-row FileScan is not.
  Only the reference side is served; consumers still explode the
  corpus they score, and a consumer whose reference is not a variant's
  base corpus keeps calling ``text.bigram_lm_score`` fresh.
- Fingerprint: the crawl store's ``documents`` fingerprint. The
  producing-code hash covers the tokenizer, pairing and counting
  kernels and the builders here; ``documents_dedup`` also folds
  ``dedup.exact_dup_groups``.
- Layout: ``uni`` w-hashed in a quarter of the crawl store's file
  count (at least 2), ``bg`` w1-hashed and (w1, w2)-sorted, so each
  scan partition stays join-local on the score join's key prefix.
"""

from __future__ import annotations

import inspect
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecmm428_pycart_spark.datapipe import crawl_store, dedup, store, text
from ecmm428_pycart_spark.session import load_table

_VARIANTS = ("documents", "documents_dedup")


def _algo_sources(variant: str) -> list[str]:
    """The producing code the entry key hashes: everything that
    determines the stored rows, so any kernel edit changes the key."""
    srcs = [
        inspect.getsource(text.tokens),
        inspect.getsource(text.adjacent_pairs),
        inspect.getsource(text.lm_count_tables),
        inspect.getsource(_base_corpus),
        inspect.getsource(_fresh_counts),
    ]
    if variant == "documents_dedup":
        # the dedup variant's corpus is exact_dup_groups' OUTPUT: a
        # canonicalization edit changes which rows are counted
        srcs.append(inspect.getsource(dedup.exact_dup_groups))
    return srcs


def _base_corpus(spark: SparkSession, sf_dir: str,
                 variant: str) -> DataFrame:
    """The (doc_id, text) reference corpus a variant counts over."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if variant == "documents":
        return docs
    canon = (dedup.exact_dup_groups(docs)
             .select(F.col("canonical_id").alias("doc_id")))
    return docs.join(canon, "doc_id", "left_semi")


def _fresh_counts(spark: SparkSession, sf_dir: str, variant: str
                  ) -> tuple[DataFrame, DataFrame, DataFrame]:
    return text.lm_count_tables(_base_corpus(spark, sf_dir, variant))


TABLES = {v: store.Table("lm", lambda v=v: _algo_sources(v), f"lm_{v}",
                         parts=("uni", "bg")) for v in _VARIANTS}


def _write(spark: SparkSession, sf_dir: str, variant: str, tmp: str) -> None:
    uni, bg, _ = _fresh_counts(spark, sf_dir, variant)
    n_files = crawl_store._layout_files(spark, sf_dir)
    store.write_clustered(uni, os.path.join(tmp, "uni"),
                          max(2, n_files // 4), "w")
    store.write_clustered(bg, os.path.join(tmp, "bg"), n_files, "w1", "w2")


def count_tables(spark: SparkSession, sf_dir: str,
                 variant: str = "documents"
                 ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The variant's (uni, bg_enriched, total) Stupid-Backoff count
    tables; values identical to ``_fresh_counts``."""
    if variant not in TABLES:
        raise ValueError(f"unknown lm-store variant {variant!r}; "
                         f"expected one of {_VARIANTS}")
    path = store.materialize(
        TABLES[variant], crawl_store.fingerprint(spark, sf_dir),
        lambda tmp: _write(spark, sf_dir, variant, tmp))
    uni = spark.read.parquet(os.path.join(path, "uni"))
    bg = spark.read.parquet(os.path.join(path, "bg"))
    # total re-derived, not read (see module docstring)
    return uni, bg, uni.agg(F.sum("cu").alias("total"))
