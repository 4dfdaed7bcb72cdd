"""Write-once, content-addressed store for derived tables.

Several query families derive the same table from the same input
before doing their own work (queen borders of a grid, the extracted
crawl corpus, the MinHash band index, the LM count tables). The
reference re-derives its borders on every ``dorling()`` call
(``pycart/border_util.py:51,77``); here each derived table is built
once per (producing code, input content) and every later consumer
starts from a parquet scan — session-level reuse of derived results.

Protocol, owned by this module alone:

- An entry lives at ``<root>/<family>_store/<name>``, ``<root>`` being
  ``SPARK_GRAFT_STORE_ROOT`` (default ``<repo>/out``) and ``<name>``
  being ``v2_<algo>[-c<folded algo>]_<fingerprint>[_<kind>]``.
  ``<algo>`` hashes the source of the code that produces the rows, so
  editing a producer can never serve stale rows; ``<fingerprint>``
  digests the input content, so a regenerated input re-materializes.
- A build writes into ``<name>.tmp.<uuid>``, seals each sub-table by
  writing a manifest (file name and size per data file) into its
  ``_SUCCESS`` marker, then renames the directory into place. A loser
  of a concurrent build race removes its tmp dir and serves the
  winner; a failed build removes its tmp dir and re-raises.
- An entry is served only if every sub-table's ``_SUCCESS`` manifest
  is non-empty, every file it lists has its recorded size, and the
  sub-table holds no data file it does not list; otherwise
  ``materialize`` raises ``IncompleteEntry`` instead of reading partial
  or extra rows. (``v1`` entries, which could carry Spark's empty
  marker, are dead under the ``v2`` layout.)
  ``tools/store_gc.py`` removes such entries, orphans left by code or
  key changes, and (with ``--tmp-too``) tmp dirs of dead builds.
"""

from __future__ import annotations

import hashlib
import importlib
import os
import shutil
import uuid
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# every family's tables are declared in datapipe/<family>_store.py;
# tools/store_gc.py collects only the directories of these families
FAMILIES = ("borders", "crawl", "band", "lm")
_LAYOUT_VERSION = "v2"
_TABLES: list[Table] = []
_FP_MEMO: dict[tuple[str, str], str] = {}


class IncompleteEntry(RuntimeError):
    """A store entry exists but its markers or files are not whole."""


@dataclass(frozen=True, eq=False)
class Table:
    """One kind of derived table: its family directory, the producing
    code's source list, the entry-name suffix and the sub-tables that
    each carry a ``_SUCCESS`` marker (``""`` is the entry itself).
    ``fold`` is an upstream table whose algo hash joins this one's,
    for tables derived from another table's output."""

    family: str
    sources: Callable[[], list[str]]
    kind: str = ""
    parts: tuple[str, ...] = ("",)
    fold: Table | None = None

    def __post_init__(self) -> None:
        _TABLES.append(self)

    @cached_property
    def algo(self) -> str:
        h = hashlib.sha256("\n".join(self.sources()).encode()).hexdigest()
        return f"{h[:12]}-c{self.fold.algo}" if self.fold else h[:12]

    def entry(self, fingerprint: str) -> str:
        return f"{_LAYOUT_VERSION}_{self.algo}_{fingerprint}" + (
            f"_{self.kind}" if self.kind else "")

    def owns(self, entry: str) -> bool:
        return (entry.startswith(f"{_LAYOUT_VERSION}_{self.algo}_")
                and entry.endswith(f"_{self.kind}" if self.kind else ""))


def family_root(family: str) -> str:
    """``<root>/<family>_store``, root from ``SPARK_GRAFT_STORE_ROOT``."""
    root = os.environ.get("SPARK_GRAFT_STORE_ROOT") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), "out")
    return os.path.join(root, f"{family}_store")


def tables() -> list[Table]:
    """Every declared table (imports each family's module)."""
    for family in FAMILIES:
        importlib.import_module(f".{family}_store", __package__)
    return list(_TABLES)


def fingerprint(tag: str, sf_dir: str,
                frame: Callable[[], DataFrame]) -> str:
    """``<tag><count>_<min k>_<max k>_<digest>`` of a frame of longs
    (k, c), the digest being of the order-insensitive sum and bit_xor
    of c. Memoised per (tag, sf_dir), so a session pays the scan once."""
    memo = (tag, os.path.abspath(sf_dir))
    if memo not in _FP_MEMO:
        n, lo, hi, s, x = frame().agg(
            F.count(F.lit(1)), F.min("k"), F.max("k"), F.sum("c"),
            F.expr("bit_xor(c)")).collect()[0]
        digest = hashlib.sha256(f"{s}_{x}".encode()).hexdigest()[:10]
        _FP_MEMO[memo] = f"{tag}{n}_{lo}_{hi}_{digest}"
    return _FP_MEMO[memo]


def write_clustered(df: DataFrame, path: str, n_files: int,
                    *cols: str) -> None:
    """Parquet hashed on ``cols[0]`` into ``n_files`` files, rows sorted
    by ``cols`` within each: the local stand-in for ``bucketBy`` into a
    catalog table."""
    (df.repartition(n_files, cols[0]).sortWithinPartitions(*cols)
     .write.parquet(path))


def _data_files(part_dir: str) -> list[str]:
    """Every name in ``part_dir`` but Spark's ``.crc`` checksums and
    ``_``-prefixed markers."""
    return sorted(n for n in os.listdir(part_dir) if n[0] not in "._")


def _seal(part_dir: str) -> None:
    names = _data_files(part_dir)
    with open(os.path.join(part_dir, "_SUCCESS"), "w") as f:
        for n in names:
            f.write(f"{n}\t{os.path.getsize(os.path.join(part_dir, n))}\n")
    crc = os.path.join(part_dir, "._SUCCESS.crc")
    if os.path.exists(crc):  # Spark's checksum of its empty marker
        os.remove(crc)


def complete(path: str, parts: tuple[str, ...]) -> bool:
    """Every sub-table has a non-empty ``_SUCCESS`` manifest, every file
    it lists has its recorded size, and the sub-table holds no data
    file it does not list (a stray part file would add rows)."""
    try:
        for part in parts:
            part_dir = os.path.join(path, part)
            with open(os.path.join(part_dir, "_SUCCESS")) as f:
                listed = [line.split("\t") for line in f.read().splitlines()]
            if not listed or sorted(n for n, _ in listed) != _data_files(
                    part_dir):
                return False
            for name, size in listed:
                if os.path.getsize(os.path.join(part_dir, name)) != int(size):
                    return False
    except (OSError, ValueError):
        return False
    return True


def materialize(table: Table, fingerprint: str,
                write: Callable[[str], None]) -> str:
    """Path of ``table``'s entry for ``fingerprint``, building it with
    ``write(tmp_dir)`` if it does not exist yet."""
    final = os.path.join(family_root(table.family), table.entry(fingerprint))
    if not os.path.isdir(final):
        tmp = f"{final}.tmp.{uuid.uuid4().hex[:12]}"
        try:
            write(tmp)
            for part in table.parts:
                _seal(os.path.join(tmp, part))
            os.rename(tmp, final)
        except OSError:
            # a rename that lost the race to a concurrent builder
            # serves the winner's entry
            if not os.path.isdir(final):
                raise
        finally:
            # gone after a rename; after any failure (a failed Spark
            # write raises Py4JJavaError) it must not leak
            shutil.rmtree(tmp, ignore_errors=True)
    if not complete(final, table.parts):
        raise IncompleteEntry(
            f"store entry {final} is incomplete (missing or empty "
            f"_SUCCESS, or a file missing, unlisted or of the wrong "
            f"size); remove it with "
            f"`python tools/store_gc.py --apply` and rerun")
    return final
