"""Pins for tools/store_gc.py: live entries (a declared table's current
key prefix, ANY fingerprint, complete) must survive; orphaned
generations, incomplete entries and — only with --tmp-too — in-flight
tmp dirs must go; dry-run must delete nothing."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*flags, env):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "store_gc.py"),
         *flags],
        capture_output=True, text=True, env=env, cwd=REPO, check=True)


def _entry(path, sealed=True):
    path.mkdir(parents=True)
    (path / "part-0.parquet").write_bytes(b"x")
    if sealed:
        (path / "_SUCCESS").write_text("part-0.parquet\t1\n")
    return path


def test_gc_keeps_live_prefixes_and_removes_orphans(tmp_path):
    from ecmm428_pycart_spark.datapipe import band_store as bs
    from ecmm428_pycart_spark.datapipe import borders_store as obs
    from ecmm428_pycart_spark.datapipe import crawl_store as cs
    from ecmm428_pycart_spark.datapipe import lm_store as ls

    borders, crawl = tmp_path / "borders_store", tmp_path / "crawl_store"
    band, lm = tmp_path / "band_store", tmp_path / "lm_store"
    live = [
        _entry(borders / obs.CUSTOMER.entry("c9_0_8_ffff")),
        # the orders grid (g14) shares the borders directory
        _entry(borders / obs.ORDERS.entry("o9_0_8_ffff")),
        _entry(crawl / cs.TABLES["html"].entry("d9_0_8_eeee")),
        _entry(band / bs.TABLES["documents"].entry("d9_0_8_dddd")),
        _entry(band / bs.TABLES["crawl_html"].entry("d9_0_8_dddd")),
    ]
    for v in ls.TABLES:  # two sub-tables, each with its own marker
        entry = lm / ls.TABLES[v].entry("d9_0_8_cccc")
        _entry(entry / "uni"), _entry(entry / "bg")
        live.append(entry)
    dead = [
        _entry(borders / "v1_c9_0_8"),  # pre-r10 key format
        _entry(crawl / "v1_000000000000_d9_0_8_x_html"),
        _entry(band / "v0_stale_d9_0_8_x_bands_documents"),
        _entry(lm / "v1_000000000000_d9_0_8_x_lm_documents"),
        # the current code's entry under the previous layout version
        _entry(borders / ("v1" + obs.CUSTOMER.entry("c9_0_8_ffff")[2:])),
    ]
    incomplete = [
        _entry(crawl / cs.TABLES["links"].entry("d9_0_8_eeee"),
               sealed=False),
    ]
    half_lm = lm / ls.TABLES["documents"].entry("d7_0_6_bbbb")
    _entry(half_lm / "uni"), _entry(half_lm / "bg", sealed=False)
    incomplete.append(half_lm)
    tmpd = _entry(crawl / (cs.TABLES["html"].entry("d9_0_8_eeee")
                           + ".tmp.abc123"), sealed=False)

    env = {**os.environ, "SPARK_GRAFT_STORE_ROOT": str(tmp_path)}

    out = _run(env=env).stdout              # dry-run: nothing deleted
    assert all(d.exists() for d in [*live, *dead, *incomplete, tmpd])
    assert out.count("DEAD") == len(dead)
    assert out.count("INCOMPLETE") == len(incomplete)
    assert f"{len(live)} live" in out

    _run("--apply", env=env)                # orphans go, tmp stays
    assert all(d.exists() for d in live) and tmpd.exists()
    assert not any(d.exists() for d in [*dead, *incomplete])

    _run("--apply", "--tmp-too", env=env)   # now the tmp dir goes too
    assert all(d.exists() for d in live)
    assert not tmpd.exists()
