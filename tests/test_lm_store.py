"""Pins for the write-once Stupid-Backoff LM count-table store
(datapipe/lm_store) — the fourth derived-dataset store (VERDICT r12
next-1).

Same contract as test_band_store / test_crawl_store: "exactly the
fresh computation's rows, built at most once, atomically". Wrong or
stale count tables would silently shift every LM-quality score
(d37/d43/q95), so:

- both store variants' three subtables are compared row-for-row
  against a same-session fresh ``text.lm_count_tables`` build;
- the downstream scorer is pinned bit-identical: ``bigram_lm_score``
  with store-served counts equals the all-fresh computation on the
  full corpus AND on the dedup variant's corpus (the q95 shape);
- the key folds every upstream kernel source (the ADVICE r11
  staleness class, now standing protocol) and the dedup variant's key
  additionally folds ``exact_dup_groups``;
- the build-once property, the lost-race branch, and the non-OSError
  tmp-dir cleanup (fail AFTER the write so the tmp dir exists) are
  exercised on the two-sub-table entry (the protocol itself is pinned
  in tests/test_store.py).
"""

import os
import shutil

import pytest

from tests.conftest import TESTDATA


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _counts_rows(counts):
    uni, bg, total = counts
    return (_rows(uni), _rows(bg), _rows(total))


@pytest.fixture()
def store_root(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    return str(tmp_path / "lm_store")


def test_store_equals_fresh_both_variants(spark, store_root):
    from ecmm428_pycart_spark.datapipe import lm_store as ls

    for variant in ls._VARIANTS:
        fresh = _counts_rows(ls._fresh_counts(spark, TESTDATA, variant))
        built = ls.count_tables(spark, TESTDATA, variant)  # build+write
        reread = ls.count_tables(spark, TESTDATA, variant)  # pure read
        assert [c for df in built for c in df.columns] == [
            "w", "cu", "w1", "w2", "cb", "cc", "total"]
        assert _counts_rows(built) == fresh, variant
        assert _counts_rows(reread) == fresh, variant
    dirs = [d for d in os.listdir(store_root) if not d.startswith(".")]
    assert len(dirs) == 2 and not any(".tmp." in d for d in dirs)
    for d in dirs:
        # total is NOT stored: re-derived from uni at read so the
        # crossJoin build side stays a provably-1-row Aggregate
        # (test_plan_shapes.py's BNLJ allowlist)
        assert sorted(os.listdir(os.path.join(store_root, d))) == [
            "bg", "uni"]


def test_scores_bit_identical_full_corpus(spark, store_root):
    from ecmm428_pycart_spark.datapipe import lm_store as ls
    from ecmm428_pycart_spark.datapipe import text
    from ecmm428_pycart_spark.session import load_table

    docs = load_table(spark, TESTDATA, "documents").select(
        "doc_id", "text")
    fresh = text.bigram_lm_score(docs)
    stored = text.bigram_lm_score(docs, counts=ls.count_tables(
        spark, TESTDATA, "documents"))
    assert _rows(stored) == _rows(fresh)


def test_scores_bit_identical_dedup_variant(spark, store_root):
    # the q95 shape: score the exact-dedup survivors against their own
    # counts, tables served from the documents_dedup variant
    from ecmm428_pycart_spark.datapipe import dedup
    from ecmm428_pycart_spark.datapipe import lm_store as ls
    from ecmm428_pycart_spark.datapipe import text
    from ecmm428_pycart_spark.session import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, TESTDATA, "documents").select(
        "doc_id", "text")
    canon = (dedup.exact_dup_groups(docs)
             .select(F.col("canonical_id").alias("doc_id")))
    corpus = docs.join(canon, "doc_id", "left_semi")
    fresh = text.perplexity_buckets(corpus).select("doc_id", "bucket")
    stored = text.perplexity_buckets(
        corpus, counts=ls.count_tables(
            spark, TESTDATA, "documents_dedup")
    ).select("doc_id", "bucket")
    assert _rows(stored) == _rows(fresh)


def test_builds_at_most_once(spark, store_root, monkeypatch):
    from ecmm428_pycart_spark.datapipe import lm_store as ls

    calls = {"n": 0}
    real = ls._fresh_counts

    def counting(spark_, sf_dir_, variant_):
        calls["n"] += 1
        return real(spark_, sf_dir_, variant_)

    monkeypatch.setattr(ls, "_fresh_counts", counting)
    ls.count_tables(spark, TESTDATA, "documents")
    ls.count_tables(spark, TESTDATA, "documents")
    ls.count_tables(spark, TESTDATA, "documents")
    assert calls["n"] == 1


def test_lost_race_reads_winner(spark, store_root, monkeypatch):
    # force the race: a concurrent winner lands its entry before this
    # build's rename — the loser must clean its tmp dir and serve the
    # winner's tables
    from ecmm428_pycart_spark.datapipe import lm_store as ls
    from ecmm428_pycart_spark.datapipe import store

    real_rename = os.rename

    def racing_rename(src, dst):
        shutil.copytree(src, dst)  # the winner's complete entry
        real_rename(src, dst)      # raises: dst is a non-empty dir

    monkeypatch.setattr(store.os, "rename", racing_rename)
    got = ls.count_tables(spark, TESTDATA, "documents")
    monkeypatch.setattr(store.os, "rename", real_rename)
    want = _counts_rows(ls._fresh_counts(spark, TESTDATA, "documents"))
    assert _counts_rows(got) == want
    leftovers = [d for d in os.listdir(store_root) if ".tmp." in d]
    assert leftovers == [], leftovers


def test_failed_build_cleans_tmp_dir(spark, store_root, monkeypatch):
    # non-OSError failure AFTER the parquet writes completed (the
    # ADVICE r12 injection-point lesson): tmp dir exists, must be gone
    from ecmm428_pycart_spark.datapipe import lm_store as ls
    from ecmm428_pycart_spark.datapipe import store

    seen = {}

    def boom(src, dst):
        seen["tmp_existed"] = os.path.isdir(src)
        raise RuntimeError("injected post-write failure")

    monkeypatch.setattr(store.os, "rename", boom)
    with pytest.raises(RuntimeError, match="injected"):
        ls.count_tables(spark, TESTDATA, "documents")
    assert seen.get("tmp_existed"), "injection fired before the write"
    leftovers = os.listdir(store_root) if os.path.isdir(store_root) else []
    assert leftovers == [], leftovers


def test_algo_key_includes_every_upstream_kernel(spark):
    """The ADVICE r11 staleness class, pinned for the fourth store: a
    tokenizer / pairing / counting / corpus-derivation edit must
    change the key."""
    import inspect

    from ecmm428_pycart_spark.datapipe import dedup
    from ecmm428_pycart_spark.datapipe import lm_store as ls
    from ecmm428_pycart_spark.datapipe.text import (adjacent_pairs,
                                                    lm_count_tables,
                                                    tokens)

    srcs = ls._algo_sources("documents")
    for dep in (tokens, adjacent_pairs, lm_count_tables,
                ls._base_corpus, ls._fresh_counts):
        assert inspect.getsource(dep) in srcs, dep.__qualname__

    dedup_srcs = ls._algo_sources("documents_dedup")
    assert inspect.getsource(dedup.exact_dup_groups) in dedup_srcs
    assert inspect.getsource(dedup.exact_dup_groups) not in srcs
    assert (ls.TABLES["documents"].algo
            != ls.TABLES["documents_dedup"].algo)


def test_variant_keys_distinct_and_validated(spark, store_root):
    from ecmm428_pycart_spark.datapipe import crawl_store
    from ecmm428_pycart_spark.datapipe import lm_store as ls

    fp = crawl_store.fingerprint(spark, TESTDATA)
    k1 = ls.TABLES["documents"].entry(fp)
    k2 = ls.TABLES["documents_dedup"].entry(fp)
    assert k1 != k2
    with pytest.raises(ValueError, match="unknown lm-store variant"):
        ls.count_tables(spark, TESTDATA, "nope")
