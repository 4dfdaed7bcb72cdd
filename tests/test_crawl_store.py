"""Pins for the write-once extracted-corpus store (datapipe/crawl_store).

Same contract as test_borders_store: "exactly the fresh extraction's
rows, built at most once, atomically". A wrong or stale store would
silently poison every crawl-family consumer (q133/q137/d93/d94/g41/
m52), so each derived table is compared row-for-row against a
same-session fresh extraction, the lost-race branch is forced
deterministically, and two consumers are pinned store == fresh
end-to-end (the protocol itself is pinned in tests/test_store.py).
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
    return str(tmp_path / "crawl_store")


def test_store_equals_fresh_all_tables(spark, store_root):
    from ecmm428_pycart_spark.datapipe import crawl_store as cs

    for fresh_fn, served_fn in [(cs._fresh_html, cs.crawl_html),
                                (cs._fresh_links, cs.crawl_links),
                                (cs._fresh_media, cs.crawl_media)]:
        fresh = fresh_fn(spark, TESTDATA)
        built = served_fn(spark, TESTDATA)    # build + write
        reread = served_fn(spark, TESTDATA)   # pure read
        assert built.columns == fresh.columns
        assert _rows(built) == _rows(fresh)
        assert _rows(reread) == _rows(fresh)
    dirs = [d for d in os.listdir(store_root) if not d.startswith(".")]
    assert len(dirs) == 3 and not any(".tmp." in d for d in dirs)


def test_lost_race_reads_winner(spark, store_root, monkeypatch):
    """Force the rename collision deterministically: a concurrent
    builder lands the entry between the existence check and the
    rename, so the loser cleans its tmp dir and serves the winner's
    rows."""
    from ecmm428_pycart_spark.datapipe import crawl_store as cs
    from ecmm428_pycart_spark.datapipe import store

    real_rename = os.rename

    def racing_rename(src, dst):
        shutil.copytree(src, dst)  # the winner's complete entry
        real_rename(src, dst)      # raises: dst is a non-empty dir

    monkeypatch.setattr(store.os, "rename", racing_rename)
    loser = _rows(cs.crawl_links(spark, TESTDATA))
    monkeypatch.setattr(store.os, "rename", real_rename)
    assert [d for d in os.listdir(store_root) if ".tmp." in d] == []
    assert [d for d in os.listdir(store_root) if d.endswith("_links")]
    assert loser == _rows(cs._fresh_links(spark, TESTDATA))


def test_consumers_store_equals_fresh(spark, store_root, monkeypatch):
    """End-to-end pin on two consumers spanning both heavy tables:
    q133 (html) and g41 (links) must return identical rows with the
    store serving and with the fresh extraction in its place."""
    from ecmm428_pycart_spark.benchmarks import get_queries
    from ecmm428_pycart_spark.datapipe import crawl_store as cs

    qs = get_queries()
    for name in ("q133_crawl_pipeline", "g41_host_pagerank"):
        with monkeypatch.context() as m:
            with_store = _rows(qs[name](spark, TESTDATA))
            m.setattr(cs, "crawl_html", cs._fresh_html)
            m.setattr(cs, "crawl_links", cs._fresh_links)
            fresh = _rows(qs[name](spark, TESTDATA))
        assert with_store == fresh, name


@pytest.mark.slow
def test_two_process_build_race(tmp_path):
    """The claimed atomicity, actually raced (the borders-store
    protocol): two separate Spark processes build the same html store
    key simultaneously into a fresh root. Exactly one table must
    exist afterwards, no tmp dirs may linger, and both processes must
    return the same correct row count.

    JVM-footprint guard (ADVICE r10): this test runs THREE concurrent
    JVMs (the suite's session fixture + these two subprocesses), one
    above the repo's usual two-JVM cap. Both subprocess drivers are
    capped at 1g heap so the combined footprint stays a few GiB on a
    128 GiB host; the race itself needs true concurrency, so the
    subprocesses cannot be serialized without losing the property
    under test."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "race_store")
    prog = f"""
import os
os.environ["SPARK_GRAFT_STORE_ROOT"] = {root!r}
import sys; sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
from ecmm428_pycart_spark.datapipe.crawl_store import crawl_html
print("ROWS", crawl_html(spark, {TESTDATA!r}).count())
"""
    procs = [subprocess.Popen([_sys.executable, "-c", prog],
                              stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
             for _ in range(2)]
    outs = [p.communicate(timeout=420)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    counts = [int(o.split("ROWS")[1].split()[0]) for o in outs]
    assert counts[0] == counts[1] > 0
    root = os.path.join(root, "crawl_store")
    entries = [d for d in os.listdir(root) if d.endswith("_html")]
    assert len(entries) == 1 and ".tmp." not in entries[0], entries
    leftovers = [d for d in os.listdir(root) if ".tmp." in d]
    assert leftovers == []
