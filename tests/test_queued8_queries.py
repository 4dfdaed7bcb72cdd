"""Gate replica for the ROUND-8 overflow queue
(benchmarks/queued8.py) — identical harness to
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
    from ecmm428_pycart_spark.benchmarks import queued8
    return sorted(queued8.QUERIES)


@pytest.mark.parametrize("name", _names())
def test_queued8_matches_oracle(spark, duck, name):
    from ecmm428_pycart_spark.benchmarks import queued8
    df = queued8.QUERIES[name](spark, SF_DIR)
    sql = queued8.ORACLES[name]
    assert sql is not None, f"{name}: queued entries must carry oracles"
    rel = duck.sql(sql)
    sp_cols, du_cols = df.columns, list(rel.columns)
    assert sorted(sp_cols) == sorted(du_cols), (sp_cols, du_cols)
    sp = _canon([tuple(r) for r in df.collect()], sp_cols)
    du = _canon(rel.fetchall(), du_cols)
    assert len(sp) == len(du), (name, len(sp), len(du))
    assert sp == du, (name, sp[:3], du[:3])


def test_queued8_is_fully_registered():
    """Since round 8 the queue IS registered (it forms the round-9
    deferred backlog): every queued8.py entry must appear in the
    registry, or it would silently fall outside the 2-round gate
    rotation. (Round 7 asserted the inverse — the queue stayed OUT
    until the round-8 rotation freed the budget.)"""
    from ecmm428_pycart_spark.benchmarks import queued8
    from ecmm428_pycart_spark.benchmarks.registry import get_queries
    missing = set(queued8.QUERIES) - set(get_queries())
    assert not missing, f"queued8 queries not registered: {missing}"


def test_queued7_respects_deferred_budget_here_too():
    """The reason queued8 exists: round 7 defers ALL of queued7 into
    round 8's 50-slot window alongside the two sentinels, so queued7
    is hard-capped at 48 — overflow goes here."""
    from ecmm428_pycart_spark.benchmarks import queued7
    assert len(queued7.QUERIES) <= 48, len(queued7.QUERIES)


def test_queued8_outputs_are_scalar_typed(duck):
    """Driver gate compatibility: no array/struct/map-typed output
    columns (the canonicalizer sorts raw pandas columns)."""
    from ecmm428_pycart_spark.benchmarks import queued8
    bad = {}
    for name, sql in queued8.ORACLES.items():
        if sql is None:
            continue
        types = duck.sql(f"DESCRIBE ({sql})").fetchall()
        offending = [(c, t) for c, t, *_ in types
                     if "[" in t or "STRUCT" in t or "MAP" in t]
        if offending:
            bad[name] = offending
    assert not bad, bad


@pytest.mark.slow
def test_queued8_plan_guards(spark):
    """Same physical-plan bar as registered queries: no
    CartesianProduct, no row-at-a-time Python, BNLJ only for
    documented 1-row build sides."""
    from ecmm428_pycart_spark.benchmarks import queued8
    bnlj_ok = {
        # 1-row grid-side + (n, sum x) aggregates broadcast
        # (_customer_grid / Moran deviation scaling)
        "g35_morans_i",
        "g38_lisa_quadrants",
        "g40_placement_compare",
        # 1-row side-length + count aggregates broadcast (grid build
        # and the V/E/F scalar assembly)
        "g36_euler_audit",
        # 1-row total-users x live-stats aggregates broadcast
        "st23_stream_cdc_tombstones",
        # constant 6-row robots ruleset broadcast for the prefix
        # match (REP rules are dimension data)
        "d83_robots_filter",
        "d94_crawl_frontier",
        # 1-row grand-total broadcast onto the contribution rows
        "q122_percent_of_parent",
        # constant 7-row public-suffix list broadcast for the
        # label-boundary match
        "d84_registrable_domain",
        # per-pair 1-row cardinality aggregates broadcast together
        "q126_fk_discovery",
        # query-vector / 1-row recall aggregates broadcast per tier
        "s31_lsh_tables_recall",
        # 1-row max-event-day broadcast anchoring the decay ages
        "q132_decayed_engagement",
        # 1-row corpus-total broadcast in the mixing-weight stage
        "q133_crawl_pipeline",
        "q134_decontaminated_curation",
        # 1-row stage-0 total broadcast onto the 5 funnel rows
        "q136_quality_cascade",
        # 1-row (n_docs, avgdl) doc-stats broadcast (d38's shape)
        "q137_crawl_search",
    }
    offenders = {}
    for name, fn in sorted(queued8.QUERIES.items()):
        plan = fn(spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        bad = [p for p in ("CartesianProduct", "BatchEvalPython")
               if p in plan]
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_queued8_respects_deferred_budget():
    """Same arithmetic one round later: round 8 defers ALL of
    queued8 into round 9's 50-slot window alongside the two
    sentinels, so queued8 is hard-capped at 48 — overflow goes to a
    future queued9 module."""
    from ecmm428_pycart_spark.benchmarks import queued8
    assert len(queued8.QUERIES) <= 48, len(queued8.QUERIES)
