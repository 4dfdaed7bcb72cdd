"""Pins for the write-once MinHash/LSH band-index store
(datapipe/band_store).

Same contract as test_crawl_store / test_borders_store: "exactly the
fresh computation's rows, built at most once, atomically". A wrong or
stale index would silently poison every LSH-dedup consumer
(d06/d15/d18/d19/d70/d95/q133/q136), so:

- both store variants are compared row-for-row against a same-session
  fresh hash of the corpus;
- ``candidate_pairs`` is pinned equal to ``dedup.lsh_candidate_pairs``
  on the full corpus AND on a filtered subset — including a
  constructed case where the degenerate-bucket cap DIFFERS between
  the full corpus and the subset, proving the cap is re-applied to
  the subset population rather than baked into the stored rows;
- the lost-race branch is forced deterministically (the protocol
  itself is pinned in tests/test_store.py);
- two consumers (one documents-variant, one crawl_html-variant) are
  pinned store == fresh end-to-end.
"""

import os
import shutil

import pytest

from tests.conftest import TESTDATA


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def store_root(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    return str(tmp_path / "band_store")


@pytest.mark.slow
def test_store_equals_fresh_both_variants(spark, store_root):
    from ecmm428_pycart_spark.datapipe import band_store as bs

    for variant in bs._VARIANTS:
        fresh = bs._fresh_bands(spark, TESTDATA, variant)
        built = bs.band_index(spark, TESTDATA, variant)   # build + write
        reread = bs.band_index(spark, TESTDATA, variant)  # pure read
        assert set(built.columns) == {"doc_id", "band", "band_key"}
        assert _rows(built) == _rows(fresh), variant
        assert _rows(reread) == _rows(fresh), variant
    dirs = [d for d in os.listdir(store_root) if not d.startswith(".")]
    assert len(dirs) == 2 and not any(".tmp." in d for d in dirs)


def test_candidate_pairs_equal_fresh_full_corpus(spark, store_root):
    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import dedup
    from ecmm428_pycart_spark.session import load_table

    docs = load_table(spark, TESTDATA, "documents")
    assert (_rows(bs.candidate_pairs(spark, TESTDATA))
            == _rows(dedup.lsh_candidate_pairs(docs)))


def test_candidate_pairs_equal_fresh_subset(spark, store_root):
    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import dedup
    from ecmm428_pycart_spark.session import load_table

    docs = load_table(spark, TESTDATA, "documents")
    subset = docs.filter((docs.doc_id % 3) == 0)
    assert (_rows(bs.candidate_pairs(spark, TESTDATA, docs=subset))
            == _rows(dedup.lsh_candidate_pairs(subset)))


def test_subset_cap_is_reapplied_not_baked_in(spark, store_root):
    """The load-bearing semantic: the bucket cap must bind to the
    CONSUMER's population. Find a band bucket with >= 3 members in the
    full corpus, then query with max_bucket_size chosen so the bucket
    is over-full corpus-wide but legal within a 2-member subset. A
    store that baked the cap into its rows (save_band_index-style)
    would return no pair; the pre-cap store must return exactly the
    fresh subset computation — including that pair."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import dedup
    from ecmm428_pycart_spark.session import load_table

    docs = load_table(spark, TESTDATA, "documents")
    bucket = (bs.band_index(spark, TESTDATA)
              .groupBy("band", "band_key")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.collect_list("doc_id").alias("ids"))
              .filter(F.col("n") >= 3)
              .orderBy("band", "band_key")
              .limit(1).collect())
    if not bucket:
        pytest.skip("test corpus has no band bucket with >=3 members")
    ids = sorted(bucket[0]["ids"])[:2]
    subset = docs.filter(F.col("doc_id").isin(ids))
    served = _rows(bs.candidate_pairs(spark, TESTDATA, docs=subset,
                                      max_bucket_size=2))
    fresh = _rows(dedup.lsh_candidate_pairs(subset, max_bucket_size=2))
    assert served == fresh
    assert (min(ids), max(ids)) in served  # the cap-sensitive pair


def test_crawl_html_variant_equals_fresh_subset(spark, store_root):
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import crawl_store, dedup

    corpus = crawl_store.crawl_html(spark, TESTDATA)
    subset = corpus.filter((F.col("doc_id") % 2) == 0)
    served = _rows(bs.candidate_pairs(spark, TESTDATA, docs=subset,
                                      variant="crawl_html"))
    assert served == _rows(dedup.lsh_candidate_pairs(subset))


def test_unknown_variant_rejected(spark, store_root):
    from ecmm428_pycart_spark.datapipe import band_store as bs

    with pytest.raises(ValueError, match="variant"):
        bs.band_index(spark, TESTDATA, "wet")


def test_lost_race_reads_winner(spark, store_root, monkeypatch):
    """Force the rename collision deterministically: a concurrent
    builder lands the entry between the existence check and the
    rename, so the loser cleans its tmp dir and serves the winner's
    rows."""
    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import store

    real_rename = os.rename

    def racing_rename(src, dst):
        shutil.copytree(src, dst)  # the winner's complete entry
        real_rename(src, dst)      # raises: dst is a non-empty dir

    monkeypatch.setattr(store.os, "rename", racing_rename)
    loser = _rows(bs.band_index(spark, TESTDATA))
    monkeypatch.setattr(store.os, "rename", real_rename)
    assert [d for d in os.listdir(store_root) if ".tmp." in d] == []
    assert [d for d in os.listdir(store_root)
            if d.endswith("_bands_documents")]
    assert loser == _rows(bs._fresh_bands(spark, TESTDATA, "documents"))


def test_crawl_variant_key_folds_crawl_algo(spark, store_root):
    """An extractor edit must invalidate the crawl_html band index
    even when the banding code itself is untouched: the entry key
    folds in crawl_store's producing-code hash."""
    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import crawl_store

    fp = crawl_store.fingerprint(spark, TESTDATA)
    crawl_algo = crawl_store.TABLES["html"].algo
    assert crawl_algo in bs.TABLES["crawl_html"].entry(fp)
    assert crawl_algo not in bs.TABLES["documents"].entry(fp)


@pytest.mark.slow
def test_consumers_store_equals_fresh(spark, store_root, monkeypatch):
    """End-to-end pin on two consumers spanning both variants: d15
    (documents) and q133 (crawl_html subset) must return identical
    rows with the store serving and with fresh hashing in its place."""
    from ecmm428_pycart_spark.benchmarks import get_queries
    from ecmm428_pycart_spark.datapipe import band_store as bs

    qs = get_queries()
    for name in ("d15_dup_clusters", "q133_crawl_pipeline"):
        with monkeypatch.context() as m:
            with_store = _rows(qs[name](spark, TESTDATA))
            m.setattr(bs, "band_index", bs._fresh_bands)
            fresh = _rows(qs[name](spark, TESTDATA))
        assert with_store == fresh, name


def test_crawl_layout_files_scale_with_corpus(spark, monkeypatch):
    """VERDICT r10 next-6: the store file count follows corpus size
    (one file per ~50k docs, floor 8) so sim-sf1+ stores keep scan
    parallelism. Unit-level: inject fingerprint memo entries and read
    the derived count."""
    from ecmm428_pycart_spark.datapipe import crawl_store as cs
    from ecmm428_pycart_spark.datapipe import store

    key = ("d", os.path.abspath(TESTDATA))
    real = store._FP_MEMO.get(key)
    try:
        for n, want in [(500, 8), (399_999, 8), (400_000, 8),
                        (500_000, 10), (5_000_000, 100)]:
            store._FP_MEMO[key] = f"d{n}_0_{n - 1}_deadbeef00"
            assert cs._layout_files(spark, TESTDATA) == max(8, n // 50_000)
            assert cs._layout_files(spark, TESTDATA) == want
    finally:
        if real is None:
            store._FP_MEMO.pop(key, None)
        else:
            store._FP_MEMO[key] = real


def test_algo_key_includes_tokenizer_source(spark):
    """ADVICE r11 (medium): shingle_set calls text.tokens, so a
    tokenizer edit MUST change the store key or the documents variant
    would silently serve stale band keys. Pin that the hashed source
    list carries text.tokens (and every other upstream kernel)."""
    import inspect

    from ecmm428_pycart_spark.datapipe import band_store, dedup
    from ecmm428_pycart_spark.datapipe.text import tokens

    srcs = band_store._algo_sources()
    for dep in (tokens, dedup.shingle_set, dedup.minhash_signature,
                dedup.lsh_band_keys, band_store._fresh_bands):
        assert inspect.getsource(dep) in srcs, dep.__qualname__
    assert (f"NUM_HASHES={dedup.NUM_HASHES};NUM_BANDS={dedup.NUM_BANDS}"
            in srcs)


def test_failed_build_cleans_tmp_dir(spark, store_root, monkeypatch):
    """ADVICE r11 (low): a non-OSError failure mid-build must not leak
    the uuid tmp dir. ADVICE r12 (low): the original injection point
    (_fresh_bands) raised BEFORE the Spark write created the tmp dir,
    so the test passed even without the cleanup clause — inject at
    os.rename instead, so the write completes (tmp dir exists on disk)
    and the failure is a RuntimeError (non-OSError, the clause under
    test) raised after it."""
    from ecmm428_pycart_spark.datapipe import band_store, store

    seen = {}

    def boom(src, dst):
        seen["tmp_existed"] = os.path.isdir(src)
        raise RuntimeError("injected post-write failure")

    monkeypatch.setattr(store.os, "rename", boom)
    with pytest.raises(RuntimeError, match="injected"):
        band_store.band_index(spark, TESTDATA)
    assert seen.get("tmp_existed"), "injection fired before the write"
    leftovers = os.listdir(store_root) if os.path.isdir(store_root) else []
    assert leftovers == [], leftovers
