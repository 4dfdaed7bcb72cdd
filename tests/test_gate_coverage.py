"""Guard for the driver correctness gate's coverage window.

The driver evaluates only the FIRST ~50 entries of ``queries()``
(observed cap in CORRECTNESS_r01/r02/r03). Round 2 learned that
reordering the registry silently moves families in and out of that
window; rounds 1-3 together still left 56 registered queries that had
NEVER seen the driver's DuckDB oracle (VERDICT r3). Round 4 therefore
switches the pinned invariant from "window covers every family" to a
ROTATION contract:

  every registered query must be driver-gate-checked within two
  consecutive rounds — i.e. it is (a) already checked in a committed
  CORRECTNESS_r*.json, (b) in the current DRIVER_WINDOW, or (c) in the
  explicit DEFERRED_TO_NEXT_ROUND list, which is small enough to fit
  (with sentinels) entirely in the next round's window.

No SparkSession needed: this is a pure registry-shape test.
"""

from __future__ import annotations

import glob
import json
import os

GATE_CAP = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Window ride-alongs. Round 5: g04 is the §2 canary (geo macro
# surface); s08 takes q01's slot per VERDICT r4 #2 — the only
# never-green query (its r4 err was the driver's array canonicalizer
# crash, fixed by the scalar reshape) must be driver-proven this round.
# q01 stays registered and is 4x driver-green (r1-r4).
SENTINELS = {"q01_pricing_summary", "g04_dorling_positions"}

# Round 6's window: the round-5 deferred backlog (31 queued + the
# newly registered library ops) + these two multiply-green sentinels.
NEXT_ROUND_SENTINELS = {"q01_pricing_summary", "g04_dorling_positions"}


def _window():
    from ecmm428_pycart_spark.benchmarks.registry import get_queries
    return list(get_queries())[:GATE_CAP]


def _historically_checked() -> set[str]:
    """Names that appeared in any committed driver correctness record
    (presence means the driver ran the oracle compare on them)."""
    checked = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as f:
            checked |= set(json.load(f))
    return checked


def test_gate_window_matches_declared_order():
    """The curated DRIVER_WINDOW must actually be the emitted prefix —
    a registry refactor that stops honoring it would silently revert
    to module-concatenation order (round-2's failure mode)."""
    from ecmm428_pycart_spark.benchmarks.registry import DRIVER_WINDOW
    assert _window()[:len(DRIVER_WINDOW)] == DRIVER_WINDOW
    assert len(DRIVER_WINDOW) == GATE_CAP


def test_window_keeps_sentinels():
    assert SENTINELS <= set(_window())


def test_every_query_gate_checked_within_two_rounds():
    """The rotation invariant: no registered query may sit outside the
    hard signal indefinitely. Each one is historically checked, in the
    current window, or explicitly deferred to next round's window."""
    from ecmm428_pycart_spark.benchmarks.registry import (
        DEFERRED_TO_NEXT_ROUND, get_queries)
    registered = set(get_queries())
    covered = (_historically_checked() | set(_window())
               | set(DEFERRED_TO_NEXT_ROUND))
    orphans = registered - covered
    assert not orphans, (
        f"queries outside the 2-round gate rotation: {sorted(orphans)} — "
        "add them to DRIVER_WINDOW or DEFERRED_TO_NEXT_ROUND")


def test_deferred_list_fits_next_window():
    """The deferral escape hatch must stay small enough that next
    round's window can absorb all of it plus the sentinels."""
    from ecmm428_pycart_spark.benchmarks.registry import (
        DEFERRED_TO_NEXT_ROUND, get_queries)
    deferred = set(DEFERRED_TO_NEXT_ROUND)
    assert len(DEFERRED_TO_NEXT_ROUND) == len(deferred)
    assert len(deferred) + len(NEXT_ROUND_SENTINELS) <= GATE_CAP
    assert deferred <= set(get_queries())
    assert not deferred & set(_window()), \
        "a query cannot be both gated now and deferred"


def test_window_names_all_have_oracles():
    """Every gated query must be hash-checkable: an oracle-less entry
    in the window burns a slot on a rows-only (weak) row."""
    from ecmm428_pycart_spark.benchmarks.registry import get_oracle_sql
    oracles = get_oracle_sql()
    missing = [n for n in _window() if n not in oracles]
    assert not missing, f"gated queries without oracle SQL: {missing}"


def test_window_outputs_are_scalar_typed():
    """No array/struct/map-typed column may reach the driver gate.

    The DRIVER's canonicalizer sorts raw pandas columns;
    ``sort_values`` on a list column throws ``TypeError: unhashable
    type: 'list'`` (the s08_int8_quantize red in CORRECTNESS_r04).
    tools/verify_oracle.py tuple-izes lists and so MASKS the class —
    this guard closes the divergence (VERDICT r4 #1b). We check the
    DuckDB side of every window oracle via DESCRIBE (plan-only, no
    execution): the driver's schema compare forces the Spark side to
    match the oracle, so a scalar oracle schema implies a scalar gate
    row on both sides.
    """
    import duckdb

    from ecmm428_pycart_spark.benchmarks.registry import get_oracle_sql

    sf_dir = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    from ecmm428_pycart_spark.benchmarks.registry import (
        DEFERRED_TO_NEXT_ROUND)

    oracles = get_oracle_sql()
    offenders = []
    # deferred entries form the next window — guard them now, not a
    # round later
    for name in [*_window(), *DEFERRED_TO_NEXT_ROUND]:
        sql = oracles.get(name)
        if sql is None:  # caught by test_window_names_all_have_oracles
            continue
        for row in con.execute(f"DESCRIBE {sql}").fetchall():
            col, typ = row[0], row[1]
            t = typ.upper()
            # '[' catches both DOUBLE[] (LIST) and DOUBLE[8] (fixed
            # ARRAY); DECIMAL(18,3) etc. use parens, not brackets
            if "[" in t or t.startswith(("STRUCT", "MAP", "LIST")):
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "array/struct/map-typed columns in driver-gate outputs (the "
        f"driver canonicalizer crashes on these): {offenders} — "
        "serialize to scalars on both sides (array_to_string / "
        "concat_ws) or posexplode to rows")


def test_full_registry_still_contains_everything():
    """Reordering must never drop registrations: the tail (post-window)
    queries stay registered and verify via tools/verify_oracle.py."""
    from ecmm428_pycart_spark.benchmarks.registry import get_queries
    names = list(get_queries())
    assert len(names) == len(set(names))
    for required in ("q38_sketch_accuracy", "m05_frame_sample",
                     "q41_e3_pipeline", "d27_source_mix",
                     "s08_int8_quantize", "q22_revenue_by_nation",
                     "g08_dorling_scalable_large", "st01_stream_hourly"):
        assert required in names


def test_window_is_the_evidence_freshness_rotation():
    """Round-10 invariant (VERDICT r9 next-1): with the registration
    backlog at zero, the window must be the two sentinels plus the 48
    queries with the OLDEST committed PASSING gate rows. Two valid
    states, covering both phases of a round:

    - the window equals the rotation computed from the committed
      CORRECTNESS files (just rotated, gate not yet run), or
    - every non-sentinel window name's most recent PASSING row is the
      newest committed round (the window was executed and its evidence
      is now the freshest — true immediately after the driver gate
      lands, until the next rotation runs).

    Anything else means the window drifted from the contract, or a
    windowed query FAILED its gate (which must be loud, not rotated
    past — the ADVICE r9 stalest_names fix)."""
    from ecmm428_pycart_spark.benchmarks.registry import (
        DEFERRED_TO_NEXT_ROUND)
    if DEFERRED_TO_NEXT_ROUND:
        return  # registration backlog mode: older contract applies

    from tools.rotate_gate import SENTINELS as ROT_SENTINELS
    from tools.rotate_gate import stalest_names

    window = _window()
    computed = ROT_SENTINELS + stalest_names(GATE_CAP - len(ROT_SENTINELS))
    if window == computed:
        return

    last: dict[str, int] = {}
    newest = 0
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        newest = max(newest, rnd)
        for name, row in json.load(open(path)).items():
            if row.get("err") is None and row.get("rows_match") \
                    and row.get("schema_match") and row.get("hash_match"):
                last[name] = max(last.get(name, 0), rnd)
    laggards = [n for n in window
                if n not in SENTINELS and last.get(n, 0) != newest]
    assert not laggards, (
        "DRIVER_WINDOW matches neither the computed evidence-freshness "
        f"rotation nor an executed gate: {laggards} lack a passing row "
        f"from round {newest} — re-run tools/rotate_gate.py or "
        "investigate failed gate rows")
