"""Gate replica for the ROUND-7 overflow queue
(benchmarks/queued7.py) — identical harness to
tests/test_queued6_queries.py: every entry executes on Spark AND its
DuckDB oracle at the chosen scale with the driver-gate
canonicalization, plus the scalar-output and physical-plan guards,
so an entry that would fail the gate fails here first."""

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
    from ecmm428_pycart_spark.benchmarks import queued7
    return sorted(queued7.QUERIES)


@pytest.mark.parametrize("name", _names())
def test_queued7_matches_oracle(spark, duck, name):
    from ecmm428_pycart_spark.benchmarks import queued7
    df = queued7.QUERIES[name](spark, SF_DIR)
    sql = queued7.ORACLES[name]
    assert sql is not None, f"{name}: queued entries must carry oracles"
    rel = duck.sql(sql)
    sp_cols, du_cols = df.columns, list(rel.columns)
    assert sorted(sp_cols) == sorted(du_cols), (sp_cols, du_cols)
    sp = _canon([tuple(r) for r in df.collect()], sp_cols)
    du = _canon(rel.fetchall(), du_cols)
    assert len(sp) == len(du), (name, len(sp), len(du))
    assert sp == du, (name, sp[:3], du[:3])


def test_queued7_is_fully_registered():
    """Since round 7 the queue IS registered (it forms the round-8
    deferred backlog): every queued7.py entry must appear in the
    registry, or it would silently fall outside the 2-round gate
    rotation. (Round 6 asserted the inverse — the queue stayed OUT
    until the round-7 rotation freed the budget.)"""
    from ecmm428_pycart_spark.benchmarks import queued7
    from ecmm428_pycart_spark.benchmarks.registry import get_queries
    missing = set(queued7.QUERIES) - set(get_queries())
    assert not missing, f"queued7 queries not registered: {missing}"


def test_queued6_respects_deferred_budget():
    """The reason queued7 exists: round 6 defers ALL of queued6 into
    round 7's 50-slot window alongside the two sentinels, so queued6
    is hard-capped at 48 — overflow goes here."""
    from ecmm428_pycart_spark.benchmarks import queued6
    assert len(queued6.QUERIES) <= 48, len(queued6.QUERIES)


def test_queued7_outputs_are_scalar_typed(duck):
    """Driver gate compatibility: no array/struct/map-typed output
    columns (the canonicalizer sorts raw pandas columns)."""
    from ecmm428_pycart_spark.benchmarks import queued7
    bad = {}
    for name, sql in queued7.ORACLES.items():
        if sql is None:
            continue
        types = duck.sql(f"DESCRIBE ({sql})").fetchall()
        offending = [(c, t) for c, t, *_ in types
                     if "[" in t or "STRUCT" in t or "MAP" in t]
        if offending:
            bad[name] = offending
    assert not bad, bad


@pytest.mark.slow
def test_queued7_plan_guards(spark):
    """Same physical-plan bar as registered queries: no
    CartesianProduct, no row-at-a-time Python, BNLJ only for
    documented 1-row build sides."""
    from ecmm428_pycart_spark.benchmarks import queued7
    bnlj_ok = {
        # 1-row count broadcasts appended to the edge-summary row
        "g27_k_truss",
        # 1-row join-count broadcasts (raw vs pseudo join parity)
        "d72_pseudonymize",
        # 1-row per-round max aggregates broadcast back (integer HITS)
        "g29_hits_scores",
        # 1-row 2m edge total broadcast onto per-label stats
        "g31_lpa_modularity",
        # 1-row max/argmax aggregates broadcast in the sweep-line join
        "q112_session_concurrency",
        # 1-row grid-side aggregate broadcast (_customer_grid)
        "g32_partition_quality",
        "g34_degree_assortativity",
        # two 1-row aggregates (base stats x marginal-product sum)
        "d77_label_agreement",
        # 1-row basket-count broadcast onto the pair rows
        "q117_association_rules",
        # 1-row vector-count broadcast into the md5 pair sampler
        "s30_similarity_histogram",
        # 1-row corpus-total aggregate broadcast onto the
        # |sources|-row frame (mixing_weights)
        "d91_mixing_weights",
    }
    offenders = {}
    for name, fn in sorted(queued7.QUERIES.items()):
        plan = fn(spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        bad = [p for p in ("CartesianProduct", "BatchEvalPython")
               if p in plan]
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_queued7_respects_deferred_budget():
    """Same arithmetic one round later: round 7 defers ALL of
    queued7 into round 8's 50-slot window alongside the two
    sentinels, so queued7 is hard-capped at 48 — overflow goes to a
    future queued8 module."""
    from ecmm428_pycart_spark.benchmarks import queued7
    assert len(queued7.QUERIES) <= 48, len(queued7.QUERIES)
