"""Hard-signal pre-validation for the ROUND-6 registration queue
(benchmarks/queued6.py) — the same replay tests/test_queued_queries.py
ran for round 5's queue: every entry executes on Spark AND its DuckDB
oracle at the chosen scale with the driver-gate canonicalization, plus
the plan and scalar-output guards registered queries face, so an entry
that would fail the gate fails here first."""

from __future__ import annotations

import os

import pytest

from tests.test_queued_queries import _canon

SF_DIR = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _names():
    from ecmm428_pycart_spark.benchmarks import queued6
    return sorted(queued6.QUERIES)


@pytest.mark.parametrize("name", _names())
def test_queued6_matches_oracle(spark, duck, name):
    from ecmm428_pycart_spark.benchmarks import queued6
    df = queued6.QUERIES[name](spark, SF_DIR)
    sql = queued6.ORACLES[name]
    assert sql is not None, f"{name}: queued entries must carry oracles"
    rel = duck.sql(sql)
    sp_cols, du_cols = df.columns, list(rel.columns)
    assert sorted(sp_cols) == sorted(du_cols), (sp_cols, du_cols)
    sp = _canon([tuple(r) for r in df.collect()], sp_cols)
    du = _canon(rel.fetchall(), du_cols)
    assert len(sp) == len(du), (name, len(sp), len(du))
    assert sp == du, (name, sp[:3], du[:3])


def test_queued6_is_fully_registered():
    """Since round 6 the queue IS registered (it forms the round-7
    deferred backlog): every queued6.py entry must appear in the
    registry, or it would silently fall outside the 2-round gate
    rotation. (Round 5 asserted the inverse — the queue stayed OUT
    until the round-6 rotation freed the budget.)"""
    from ecmm428_pycart_spark.benchmarks import queued6
    from ecmm428_pycart_spark.benchmarks.registry import get_queries
    missing = set(queued6.QUERIES) - set(get_queries())
    assert not missing, f"queued6 queries not registered: {missing}"


def test_queued6_outputs_are_scalar_typed(duck):
    """The driver canonicalizer crashes on array/struct/map outputs;
    the registry guard (test_gate_coverage) can't see this module yet,
    so the queue enforces the rule on itself."""
    from ecmm428_pycart_spark.benchmarks import queued6
    offenders = []
    for name, sql in queued6.ORACLES.items():
        for row in duck.execute(f"DESCRIBE {sql}").fetchall():
            t = row[1].upper()
            if "[" in t or t.startswith(("STRUCT", "MAP", "LIST")):
                offenders.append(f"{name}.{row[0]}: {row[1]}")
    assert not offenders, offenders


@pytest.mark.slow
def test_queued6_plan_guards(spark):
    """Same physical-plan bar as registered queries: no
    CartesianProduct, no row-at-a-time Python, BNLJ only for the
    documented 1-row build sides."""
    from ecmm428_pycart_spark.benchmarks import queued6
    bnlj_ok = {
        "q101_approx_quantile_bounds",  # 1-row stats broadcast (ranks)
        "s23_binary_hamming_topk",  # 1-row query-vector broadcast
        "s24_ann_recall_eval",  # 1-row query-vector broadcasts (4 tiers)
        "s25_matryoshka_recall",  # 1-row query-vector broadcasts (4 dims)
        "s26_ivf_nprobe_recall",  # 1-row query-vector broadcasts (3 probes)
        # 1-row grid-side (count) broadcast in _customer_grid's synth;
        # g19/g20 share the shape but hide it behind their iterative
        # helpers' localCheckpoint lineage truncation
        "g21_link_prediction",
        "d65_lsh_tuning_sweep",  # 1-row count broadcasts (3 tiers)
        "q104_fk_integrity",  # 1-row count broadcasts (6 relations)
        "s28_faceted_topk",  # 1-row query-vector broadcast
    }
    offenders = {}
    for name, fn in sorted(queued6.QUERIES.items()):
        plan = fn(spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        bad = [p for p in ("CartesianProduct", "BatchEvalPython")
               if p in plan]
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, f"scale anti-patterns found: {offenders}"
