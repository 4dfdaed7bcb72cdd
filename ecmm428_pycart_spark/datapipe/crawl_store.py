"""The crawl family's shared extraction passes, served from the
write-once store (``datapipe/store.py``).

- Stored: three tables derived from ``documents``, each built
  independently — ``html`` (doc_id, source, text, n_links, n_records;
  the WARC capture + ISO 28500 walk + html.parser visible-text pass
  q133/q137 read), ``links`` (doc_id, src_host, dst_host, one row per
  extracted href; d93/d94/g41) and ``media`` (doc_id, source,
  media_type, n_units, sum_val, n_records, n_responses; m52's WARC
  walk + magic-byte sniff + mixed-media decode).
- Fingerprint (tag ``d``, shared by ``band_store`` and ``lm_store``):
  count and min/max doc_id of ``documents`` plus sum and bit_xor of a
  per-row crc32 over a null-guarded, length-prefixed encoding of
  (doc_id, source, text), so it pins content, not just the key range.
  The producing-code hash covers the whole ``multimodal`` and ``text``
  modules and the fresh builders.
- Layout: doc_id-hashed files, doc_id-sorted, one file per ~50k docs
  with a floor of 8 (``_layout_files``).
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecmm428_pycart_spark.datapipe import store
from ecmm428_pycart_spark.session import load_table


def fingerprint(spark: SparkSession, sf_dir: str) -> str:
    """Content fingerprint of ``documents``: a NULL field encodes as
    ``~`` and a value as ``<len>:<value>``, so neither a NULL in another
    column nor an embedded separator can alias another corpus."""

    def _field(name: str):
        s = F.col(name).cast("string")
        return F.when(s.isNull(), F.lit("~")).otherwise(
            F.concat(F.length(s).cast("string"), F.lit(":"), s))

    return store.fingerprint("d", sf_dir, lambda: load_table(
        spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("k"),
            F.crc32(F.concat(_field("doc_id"), _field("source"),
                             _field("text"))).alias("c")))


def _layout_files(spark: SparkSession, sf_dir: str) -> int:
    """Store-table file count, scaled with corpus size: ~one file per
    50k docs with a floor of 8, so a large corpus keeps scan
    parallelism while small corpora don't fragment into tiny files.
    Read from the fingerprint's row count (``d<n>_...``)."""
    n_docs = int(fingerprint(spark, sf_dir).split("_")[0][1:])
    return max(8, n_docs // 50_000)


def _fresh_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q133/q137 ingestion prefix: WARC capture → ISO 28500 walk →
    html.parser visible-text extraction, one zero-shuffle Arrow pass.
    Columns (doc_id, source, text, n_links, n_records) where ``text``
    is the EXTRACTED text."""
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    return (docs
            .withColumn("payload", multimodal.synth_warc_html_payload(
                F.col("doc_id"), F.col("text")))
            .withColumn("x", multimodal.warc_html_extract("payload"))
            .select("doc_id", "source",
                    F.col("x.ext_text").alias("text"),
                    "x.n_links", "x.n_records"))


def _fresh_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d93/d94/g41 edge feed: real href extraction over each
    doc's outlink page — one row per (doc, extracted dst_host)."""
    from ecmm428_pycart_spark.datapipe.text import outlink_host_edges

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text")
    return outlink_host_edges(docs).select(
        "doc_id", "src_host", "dst_host")


def _fresh_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The m52 binary branch: WARC walk → magic-byte sniff → real
    mixed-media decode (QOI/BMP/WAV/TIFF by doc_id % 4), flattened."""
    from ecmm428_pycart_spark.datapipe import multimodal

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    return (docs
            .withColumn("payload",
                        multimodal.synth_warc_media_payload(
                            F.col("doc_id")))
            .withColumn("s", multimodal.warc_media_extract("payload"))
            .select("doc_id", "source", "s.media_type", "s.n_units",
                    "s.sum_val", "s.n_records", "s.n_responses"))


def _sources() -> list[str]:
    from ecmm428_pycart_spark.datapipe import multimodal
    from ecmm428_pycart_spark.datapipe import text as text_mod

    return [inspect.getsource(m) for m in (
        multimodal, text_mod, _fresh_html, _fresh_links, _fresh_media)]


_FRESH = {"html": _fresh_html, "links": _fresh_links, "media": _fresh_media}
TABLES = {kind: store.Table("crawl", _sources, kind) for kind in _FRESH}


def _served(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    path = store.materialize(
        TABLES[kind], fingerprint(spark, sf_dir),
        lambda tmp: store.write_clustered(
            _FRESH[kind](spark, sf_dir), tmp,
            _layout_files(spark, sf_dir), "doc_id"))
    return spark.read.parquet(path)


def crawl_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extracted-HTML corpus (doc_id, source, text, n_links,
    n_records); values identical to ``_fresh_html``."""
    return _served(spark, sf_dir, "html")


def crawl_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extracted outlink edges (doc_id, src_host, dst_host), one
    row per href; values identical to ``_fresh_links``."""
    return _served(spark, sf_dir, "links")


def crawl_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decoded media roll-up feed (doc_id, source, media_type,
    n_units, sum_val, n_records, n_responses); values identical to
    ``_fresh_media``."""
    return _served(spark, sf_dir, "media")
