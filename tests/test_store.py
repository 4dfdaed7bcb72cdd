"""Pins for the write-once store primitive (datapipe/store.py), on a
tiny ``spark.range`` family.

Every derived-table family (borders, crawl, band, lm) goes through
``store.materialize``, so its serving rule is pinned here once: an
entry builds once, a leftover tmp dir never stands in for it, an
entry with a missing or empty marker, a truncated file or an unlisted
part file raises instead of serving partial or extra rows, a changed
source list rebuilds under a new name, a lost rename race serves the
winner, and a failed build leaves no tmp dir behind.
"""

import os
import shutil

import pytest

from ecmm428_pycart_spark.datapipe import store

N = 50


@pytest.fixture()
def root(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    return tmp_path / "unit_store"


def _table(src="spark.range v1", parts=("",)):
    return store.Table("unit", lambda: [src], "ids", parts=parts)


def _materialize(spark, table, builds):
    def write(tmp):
        builds.append(tmp)
        for part in table.parts:
            spark.range(N).repartition(2).write.parquet(
                os.path.join(tmp, part))
    return store.materialize(table, f"r{N}", write)


def _ids(spark, path):
    return sorted(r.id for r in spark.read.parquet(path).collect())


def test_builds_once_then_serves(spark, root):
    table, builds = _table(), []
    path = _materialize(spark, table, builds)
    assert _materialize(spark, table, builds) == path
    assert len(builds) == 1 and _ids(spark, path) == list(range(N))
    assert os.listdir(root) == [table.entry(f"r{N}")]
    assert path == os.path.join(store.family_root("unit"),
                                table.entry(f"r{N}"))


def test_default_root_is_repo_out(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STORE_ROOT", raising=False)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert store.family_root("lm") == os.path.join(repo, "out", "lm_store")


def test_leftover_tmp_dir_is_ignored(spark, root):
    table, builds = _table(), []
    stale = root / f"{table.entry(f'r{N}')}.tmp.0123456789ab"
    stale.mkdir(parents=True)
    (stale / "part-00000.parquet").write_bytes(b"half a file")
    path = _materialize(spark, table, builds)
    assert len(builds) == 1 and _ids(spark, path) == list(range(N))
    assert stale.exists()  # another build's dir: only store_gc removes it


def test_missing_success_marker_raises(spark, root):
    table, builds = _table(), []
    path = _materialize(spark, table, builds)
    os.remove(os.path.join(path, "_SUCCESS"))
    with pytest.raises(store.IncompleteEntry, match="store_gc.py") as e:
        _materialize(spark, table, builds)
    assert path in str(e.value)
    assert len(builds) == 1  # neither served nor silently rebuilt


def test_empty_marker_raises(spark, root):
    # Spark's own empty _SUCCESS lists nothing, so it vouches for nothing
    table, builds = _table(), []
    path = _materialize(spark, table, builds)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    with pytest.raises(store.IncompleteEntry):
        _materialize(spark, table, builds)
    assert len(builds) == 1


def test_unlisted_part_file_raises(spark, root):
    # a stray part file the manifest does not list would add its rows;
    # Spark's .crc checksums and _-prefixed files are not data
    table, builds = _table(), []
    path = _materialize(spark, table, builds)
    open(os.path.join(path, "._SUCCESS.crc"), "w").close()
    open(os.path.join(path, "_committed_0"), "w").close()
    assert _materialize(spark, table, builds) == path
    part = sorted(n for n in os.listdir(path) if n.startswith("part-"))[0]
    shutil.copy(os.path.join(path, part),
                os.path.join(path, "part-99999-stray.parquet"))
    with pytest.raises(store.IncompleteEntry):
        _materialize(spark, table, builds)
    assert len(builds) == 1


def test_truncated_part_file_raises_and_serves_no_rows(spark, root):
    table, builds = _table(), []
    path = _materialize(spark, table, builds)
    part = sorted(n for n in os.listdir(path) if n.startswith("part-"))[0]
    with open(os.path.join(path, part), "r+b") as f:
        f.truncate(os.path.getsize(os.path.join(path, part)) // 2)
    served = None
    with pytest.raises(store.IncompleteEntry):
        served = _ids(spark, _materialize(spark, table, builds))
    assert served is None and len(builds) == 1


def test_marker_per_subtable(spark, root):
    # lm-style entries: each sub-table carries its own marker
    table, builds = _table(parts=("uni", "bg")), []
    path = _materialize(spark, table, builds)
    assert sorted(os.listdir(path)) == ["bg", "uni"]
    assert _ids(spark, os.path.join(path, "bg")) == list(range(N))
    os.remove(os.path.join(path, "bg", "_SUCCESS"))
    with pytest.raises(store.IncompleteEntry):
        _materialize(spark, table, builds)


def test_changed_sources_rebuild_under_new_name(spark, root):
    builds = []
    old = _materialize(spark, _table("spark.range v1"), builds)
    new = _materialize(spark, _table("spark.range v2"), builds)
    assert old != new and len(builds) == 2
    assert sorted(os.listdir(root)) == sorted(
        os.path.basename(p) for p in (old, new))


def test_lost_race_serves_winner(spark, root, monkeypatch):
    # a concurrent builder lands its entry between our existence check
    # and our rename: the rename fails, our tmp dir goes, theirs serves
    table, builds = _table(), []
    real_rename = os.rename

    def racing_rename(src, dst):
        shutil.copytree(src, dst)  # the winner's complete entry
        real_rename(src, dst)      # raises: dst is a non-empty dir

    monkeypatch.setattr(store.os, "rename", racing_rename)
    path = _materialize(spark, table, builds)
    assert len(builds) == 1 and _ids(spark, path) == list(range(N))
    assert os.listdir(root) == [os.path.basename(path)]


def test_failed_build_cleans_tmp_dir(spark, root, monkeypatch):
    # fail AFTER the write, so the tmp dir really exists on disk, with
    # a non-OSError (what a failed Spark job raises)
    table, seen = _table(), {}

    def boom(src, dst):
        seen["tmp_existed"] = os.path.isdir(src)
        raise RuntimeError("injected post-write failure")

    monkeypatch.setattr(store.os, "rename", boom)
    with pytest.raises(RuntimeError, match="injected"):
        _materialize(spark, table, [])
    assert seen.get("tmp_existed"), "injection fired before the write"
    assert os.listdir(root) == []
