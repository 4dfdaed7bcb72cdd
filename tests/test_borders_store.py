"""Pins for the write-once customer-borders store (datapipe/borders_store).

The store's whole contract is "exactly the fresh build's rows, built at
most once, atomically": a wrong or stale store would silently poison
every g-family consumer's oracle, so these tests compare the store
against a same-session fresh `get_borders` build row-for-row and
exercise the memoized fingerprint keying and the lost-race read path
(the protocol itself is pinned in tests/test_store.py).
"""

import os
import shutil

import pytest

from tests.conftest import TESTDATA


def _rowset(df):
    return sorted(
        (int(r["focal"]), int(r["neighbor"]), round(float(r["weight"]), 9),
         int(r["focal_id"]), int(r["neighbor_id"]))
        for r in df.collect())


@pytest.fixture()
def store_root(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    return str(tmp_path / "borders_store")


@pytest.mark.slow
def test_store_equals_fresh_build(spark, store_root):
    from ecmm428_pycart_spark.datapipe import borders_store as bs

    fresh = _rowset(bs._fresh_borders(spark, TESTDATA))
    built = _rowset(bs.customer_borders(spark, TESTDATA))   # build + write
    reread = _rowset(bs.customer_borders(spark, TESTDATA))  # pure read
    assert built == fresh and reread == fresh
    # exactly one store table was materialized under the root
    dirs = [d for d in os.listdir(store_root) if not d.startswith(".")]
    assert len(dirs) == 1 and ".tmp." not in dirs[0]


def test_lost_race_reads_winner(spark, store_root, monkeypatch):
    """A concurrent gate JVM lands the entry between this process's
    existence check and its rename: the rename collides, the loser
    cleans its tmp dir and serves the winner's table."""
    from ecmm428_pycart_spark.datapipe import borders_store as bs
    from ecmm428_pycart_spark.datapipe import store

    real_rename = os.rename

    def racing_rename(src, dst):
        shutil.copytree(src, dst)  # the winner's complete entry
        real_rename(src, dst)      # raises: dst is a non-empty dir

    monkeypatch.setattr(store.os, "rename", racing_rename)
    loser = _rowset(bs.customer_borders(spark, TESTDATA))
    monkeypatch.setattr(store.os, "rename", real_rename)
    assert [d for d in os.listdir(store_root) if ".tmp." in d] == []
    assert len(os.listdir(store_root)) == 1
    assert loser == _rowset(bs._fresh_borders(spark, TESTDATA))


def test_nodes_match_grid_region_idx(spark):
    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.datapipe import borders_store as bs

    a = sorted(r["region_idx"] for r in
               bs.customer_nodes(spark, TESTDATA).collect())
    b = sorted(r["region_idx"] for r in
               _customer_grid(spark, TESTDATA).select("region_idx").collect())
    assert a == b


@pytest.mark.slow
def test_two_process_build_race(tmp_path):
    """The claimed atomicity, actually raced: two separate Spark
    processes build the same store key simultaneously into a fresh
    root. Exactly one table must exist afterwards, no tmp dirs may
    linger, and both processes must return the same correct row count."""
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
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
from ecmm428_pycart_spark.datapipe.borders_store import customer_borders
print("ROWS", customer_borders(spark, {TESTDATA!r}).count())
"""
    procs = [subprocess.Popen([_sys.executable, "-c", prog],
                              stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
             for _ in range(2)]
    outs = [p.communicate(timeout=420)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    counts = [int(o.split("ROWS")[1].split()[0]) for o in outs]
    assert counts[0] == counts[1] > 0
    entries = os.listdir(os.path.join(root, "borders_store"))
    assert len(entries) == 1 and ".tmp." not in entries[0], entries


def test_orders_store_equals_fresh_build(spark, store_root):
    """r14: the second grid in the store (the 50x50 orders grid g14's
    dorling reads) must hold exactly the fresh get_borders rows — same
    contract as the customer table."""
    from ecmm428_pycart_spark.datapipe import borders_store as bs

    fresh = _rowset(bs._fresh_borders(spark, TESTDATA, "_orders_grid"))
    built = _rowset(bs.orders2500_borders(spark, TESTDATA))   # build+write
    reread = _rowset(bs.orders2500_borders(spark, TESTDATA))  # pure read
    assert built == fresh and reread == fresh
    dirs = [d for d in os.listdir(store_root) if not d.startswith(".")]
    assert len(dirs) == 1 and dirs[0].split("_")[2].startswith("o")
