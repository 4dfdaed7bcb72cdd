"""The MinHash/LSH band index, served from the write-once store
(``datapipe/store.py``); ``candidate_pairs`` is the drop-in for
``dedup.lsh_candidate_pairs`` its consumers (d06/d15/d18/d19/d70/d95/
q133/q136) call.

- Stored: the PRE-CAP index (doc_id, band, band_key) of a variant's
  full corpus — ``documents`` or ``crawl_html`` (the crawl store's
  extracted text). Band keys are a pure per-document function of the
  text (shingle set -> 8 MinHashes -> 4 band keys), so one build
  serves every subset: consumers semi-join the index down to their
  doc_ids. The degenerate-bucket cap depends on the population, so
  it is applied at read over the subset, which reproduces
  ``lsh_candidate_pairs(subset)`` exactly.
- Fingerprint: the crawl store's ``documents`` fingerprint. The
  producing-code hash covers the tokenizer, shingling, MinHash and
  banding kernels, their constants and the fresh builder; the
  ``crawl_html`` variant also folds in the crawl store's hash
  (``-c<crawl algo>``).
- Layout: doc_id-hashed, doc_id-sorted files, counted like the crawl
  store's.
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecmm428_pycart_spark.datapipe import crawl_store, dedup, store
from ecmm428_pycart_spark.session import load_table

_VARIANTS = ("documents", "crawl_html")


def _algo_sources() -> list[str]:
    """The producing code the entry key hashes: every upstream kernel
    of the stored band keys, including the tokenizer ``shingle_set``
    calls."""
    from ecmm428_pycart_spark.datapipe.text import tokens

    return [
        inspect.getsource(tokens),
        inspect.getsource(dedup.shingle_set),
        inspect.getsource(dedup.minhash_signature),
        inspect.getsource(dedup.lsh_band_keys),
        f"NUM_HASHES={dedup.NUM_HASHES};NUM_BANDS={dedup.NUM_BANDS}",
        inspect.getsource(_fresh_bands),
    ]


def _base_corpus(spark: SparkSession, sf_dir: str,
                 variant: str) -> DataFrame:
    """The (doc_id, text) corpus a variant bands over."""
    if variant == "crawl_html":
        return crawl_store.crawl_html(spark, sf_dir).select("doc_id", "text")
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _fresh_bands(spark: SparkSession, sf_dir: str,
                 variant: str) -> DataFrame:
    """The full-corpus PRE-CAP band index (doc_id, band, band_key) —
    one shingle-explode + MinHash + banding pass, no cap (see module
    docstring for why the cap is a read-time concern)."""
    return dedup.lsh_band_keys(
        dedup.minhash_signature(_base_corpus(spark, sf_dir, variant)))


TABLES = {
    "documents": store.Table("band", _algo_sources, "bands_documents"),
    "crawl_html": store.Table("band", _algo_sources, "bands_crawl_html",
                              fold=crawl_store.TABLES["html"]),
}


def band_index(spark: SparkSession, sf_dir: str,
               variant: str = "documents") -> DataFrame:
    """The corpus's pre-cap LSH band index (doc_id, band, band_key);
    values identical to ``_fresh_bands``."""
    if variant not in TABLES:
        raise ValueError(f"unknown band-store variant {variant!r}; "
                         f"expected one of {_VARIANTS}")
    path = store.materialize(
        TABLES[variant], crawl_store.fingerprint(spark, sf_dir),
        lambda tmp: store.write_clustered(
            _fresh_bands(spark, sf_dir, variant), tmp,
            crawl_store._layout_files(spark, sf_dir), "doc_id"))
    return spark.read.parquet(path)


def candidate_pairs(spark: SparkSession, sf_dir: str,
                    docs: DataFrame | None = None,
                    variant: str = "documents",
                    max_bucket_size: int = dedup.MAX_BUCKET_SIZE
                    ) -> DataFrame:
    """Drop-in replacement for ``dedup.lsh_candidate_pairs`` serving
    the MinHash/banding pass from the store: unordered candidate pairs
    (doc_a < doc_b) sharing >=1 LSH band, rows EXACTLY equal to the
    fresh computation on the same input.

    ``docs`` is the consumer's (possibly filtered) corpus; ``None``
    means the variant's full corpus. When given, only its ``doc_id``s
    participate — the index is semi-joined down before the bucket cap
    and self-join, which reproduces ``lsh_candidate_pairs(docs)``
    because band keys are per-document pure and the cap is applied to
    the same post-filter population.

    PRECONDITION on ``docs``: it must be a ROW SUBSET of the variant's
    base corpus — each doc_id's text byte-identical to the stored
    corpus's text for that doc_id. Only the doc_id column is consulted;
    a consumer passing TRANSFORMED text (scrubbed/normalized/truncated)
    would silently get pairs computed from the ORIGINAL text. Such a
    consumer must call ``dedup.lsh_candidate_pairs(transformed)``
    directly instead (ADVICE r11).
    """
    bands = band_index(spark, sf_dir, variant)
    if docs is not None:
        bands = bands.join(docs.select("doc_id"), "doc_id", "left_semi")
    ok = (bands.groupBy("band", "band_key")
          .agg(F.count(F.lit(1)).alias("_n"))
          .filter(F.col("_n") <= max_bucket_size)
          .select("band", "band_key"))
    bands = bands.join(ok, ["band", "band_key"], "left_semi")
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (a.join(b, ["band", "band_key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
