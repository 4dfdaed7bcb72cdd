"""Rotate the driver gate window by evidence freshness.

DRIVER_WINDOW (``benchmarks/registry.py``) is the two sentinels plus
the 48 registered queries whose last PASSING committed
``CORRECTNESS_r*.json`` row is oldest; failed or errored rows are not
evidence. ``tests/test_gate_coverage.py`` checks the window against
``stalest_names``.

    python tools/rotate_gate.py     # rewrite DRIVER_WINDOW; idempotent

Run it once a round, after that round's CORRECTNESS file is committed;
then run ``python -m pytest tests/test_gate_coverage.py
tests/test_plan_shapes.py -q`` and a full verify_oracle sweep.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SENTINELS = ["q01_pricing_summary", "g04_dorling_positions"]


def stalest_names(n: int = 48) -> list[str]:
    """The ``n`` non-sentinel registered queries with the oldest
    passing gate row; never-gated ones sort first, ties by name."""
    import __spark_entry__ as ent

    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r0*(\d+)\.json$", path).group(1))
        for name, row in json.load(open(path)).items():
            if row.get("err") is not None:
                continue
            if not (row.get("rows_match") and row.get("schema_match")
                    and row.get("hash_match")):
                continue
            last[name] = max(last.get(name, 0), rnd)
    ranked = sorted((q for q in ent.queries() if q not in SENTINELS),
                    key=lambda q: (last.get(q, 0), q))
    return ranked[:n]


def main():
    new_window = SENTINELS + stalest_names(48)
    reg_path = os.path.join(REPO, "ecmm428_pycart_spark", "benchmarks",
                            "registry.py")
    reg = open(reg_path).read()
    m = re.search(r"^DRIVER_WINDOW = \[.*?\n\]\n", reg, re.S | re.M)
    if m is None:
        sys.exit("ERROR: no DRIVER_WINDOW block in registry.py")
    # names from non-comment lines only: a quoted name in a comment is
    # not a window entry
    current = [name for line in m.group(0).splitlines()
               if not line.lstrip().startswith("#")
               for name in re.findall(r'"([a-z0-9_]+)"', line)]
    if current == new_window:
        print("DRIVER_WINDOW already rotated; nothing to do")
        return
    reg = reg.replace(
        m.group(0),
        "DRIVER_WINDOW = [\n"
        "    # Evidence-freshness rotation: the 48 queries with the\n"
        "    # OLDEST committed PASSING driver-gate rows + two sentinels.\n"
        "    # Computed by tools/rotate_gate.py from CORRECTNESS_r*.\n"
        + "".join(f'    "{n}",\n' for n in new_window) + "]\n")
    open(reg_path, "w").write(reg)
    print("rewrote DRIVER_WINDOW:", *new_window, sep="\n  ")


if __name__ == "__main__":
    main()
