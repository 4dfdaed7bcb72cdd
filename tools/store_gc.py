"""Garbage-collect derived-table store entries that can never be served.

Every entry name starts with ``v2_<algo>_`` (``datapipe/store.py``),
the layout version and the hash of its producing code, so editing a
producer, changing a key or bumping the layout orphans the old
entries. An entry is LIVE iff some declared table
(``store.tables()``, the same table ``store.materialize`` hashes) owns
its name and the entry is complete; entries of other fingerprints are
kept, since other inputs legitimately have other fingerprints. Entries
with a live name but a missing or empty ``_SUCCESS``, or a file that is
missing, unlisted or of the wrong size, are INCOMPLETE: ``materialize``
refuses them, and removing them lets the next call rebuild. ``.tmp.``
directories are in-flight builds; they are removed only with
``--tmp-too`` (safe on a quiescent host, not while a build runs).

Dry-run by default; pass ``--apply`` to delete.

Usage: python tools/store_gc.py [--apply] [--tmp-too]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from ecmm428_pycart_spark.datapipe import store

    ap = argparse.ArgumentParser()
    ap.add_argument("--apply", action="store_true",
                    help="actually delete (default: dry-run report)")
    ap.add_argument("--tmp-too", action="store_true",
                    help="also remove .tmp. in-flight dirs (only on a "
                         "quiescent host)")
    args = ap.parse_args()

    tables = store.tables()
    n_live = n_gone = 0
    for family in store.FAMILIES:
        root = store.family_root(family)
        for entry in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            path = os.path.join(root, entry)
            owner = next((t for t in tables
                          if t.family == family and t.owns(entry)), None)
            if ".tmp." in entry:
                label = "TMP" if args.tmp_too else None
            elif owner is None:
                label = "DEAD"
            elif not store.complete(path, owner.parts):
                label = "INCOMPLETE"
            else:
                label, n_live = None, n_live + 1
            if label and os.path.isdir(path):
                n_gone += label != "TMP"
                print(f"{label:<10} {path}")
                if args.apply:
                    shutil.rmtree(path, ignore_errors=True)
    print(f"# {n_live} live, {n_gone} dead or incomplete"
          + ("" if args.apply else " (dry-run; pass --apply to delete)"))


if __name__ == "__main__":
    main()
