"""Self-test of the cartogram benchmark.

Runs the benchmark end to end, so it takes several minutes:

    python3 -m pytest cartobench/test_cartobench.py -q -p no:cacheprovider

- every workload runs correctly on a second seed;
- every job is oracle-checked: a job against a corrupted oracle fails;
- two traced runs of a workload read the same counts
  (``plans.dorling_stages_per_iter`` and ``spark.jobs`` per job);
- without the program beside it, the benchmark exits non-zero and
  prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
LISTED = [w["name"] for w in BENCH["workloads"]]
SEED = 2


def bench(workload, trace, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, "cartobench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p, (json.loads(p.stdout.splitlines()[-1]) if p.stdout else None)


@pytest.mark.parametrize("workload", LISTED)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    p, res = bench(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", LISTED)
def test_traced_counts_repeat_exactly(workload):
    runs = [bench(workload, 1) for _ in range(2)]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    for p, res in runs:
        assert p.returncode == 0, p.stderr[-3000:]
        assert res["correct"]
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for key in ("plans.dorling_stages_per_iter", "spark.jobs"):
        assert runs[0][1]["metrics"][key] == runs[1][1]["metrics"][key], key


@pytest.fixture(scope="module")
def spark():
    run.pin_env()
    assert run.program_present()
    from ecmm428_pycart_spark.session import get_spark

    session = get_spark("cartobench-selftest")
    yield session
    run.stop_jvm(session)


def _corrupt(w):
    if w.name == "dorling_scalable":
        w.x = w.x + 1e-3
    elif w.name == "reference_etl":
        first = next(iter(w.rows_expected))
        parent, code, pop = w.rows_expected[first]
        w.rows_expected[first] = (parent, code, pop + 1)
    else:
        w.olson_area *= 1.001


@pytest.mark.parametrize("workload", ["dorling_scalable", "reference_etl",
                                      "map_build"])
def test_every_job_is_oracle_checked(spark, workload, tmp_path):
    from spans import Tracer
    from workloads import WORKLOADS, CheckFailed, Ctx

    w = WORKLOADS[workload](SEED, str(tmp_path))
    ctx = Ctx(spark, Tracer(spark, False))
    w.setup(ctx)
    assert w.job(ctx) == w.n
    _corrupt(w)
    with pytest.raises(CheckFailed):
        w.job(ctx)
    ctx.release()


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "cartobench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p, res = bench(LISTED[0], 0, cwd=str(tmp_path))
    assert p.returncode != 0 and res is None
