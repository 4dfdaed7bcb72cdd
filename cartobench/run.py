"""Cartogram benchmark: one workload per run, one JSON result line.

    python3 cartobench/run.py --workload map_build --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run generates its inputs
from ``--seed``, sets up ``SETUPS`` times (the first set-up starts the
JVM and the session, the later ones repeat the loading in it), runs the
workload's untimed warm-up jobs, then runs jobs back to back, one at a
time, for ``--seconds`` (and at least ``MIN_JOBS``) and checks every
output.
With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1``
it alternates untraced and traced jobs, probes the layers the job does
not call, and prints the per-layer metrics. Everything the run writes
stays under ``cartobench/_work``; the full record, with spans, counters
and the host fingerprint, goes to ``cartobench/_work/records``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SETUPS = 3
MIN_JOBS = 3         # the median then ignores one stalled job
MIN_TRACED_JOBS = 2  # of each kind, in a traced run
DRIVER_MEM = "2g"

LAYER_SPANS = {
    "sources.read_s": "sources.read",
    "sources.write_s": "sources.write",
    "geometry.kernels_s": "geometry.kernels",
    "operators.borders_s": "operators.borders",
    "operators.relational_s": "operators.relational",
    "plans.non_contiguous_s": "plans.non_contiguous",
    "plans.dorling_core.sweep_s": "plans.dorling_core.sweep",
}
JOB_COUNTERS = ["spark.jobs", "spark.stages", "spark.tasks",
                "spark.executor_run_s", "spark.shuffle_read_mb",
                "spark.shuffle_write_mb", "spark.spill_mb", "driver_gap_s"]


def unit(metric: str) -> str:
    if metric.endswith("_mb") or "_mb_" in metric:
        return "MB"
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith("_s") or "_s_" in metric:
        return "s"
    return "count"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def pin_env() -> None:
    """Pin the run to half the cores it may use (at least one), the
    session the program builds to as many task threads, a small driver
    heap, and every scratch directory inside the checkout.

    On a shared virtual host the hypervisor deschedules a guest that
    keeps every core busy (steal time) far more, and far more unevenly
    from run to run, than one that leaves half its cores idle. The jobs
    here are bound by driver and scheduling latency, which steal
    inflates most; the JVM's collector and compiler threads and the
    Python driver and workers need cores beside the task threads."""
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores[:max(1, len(cores) // 2)])
    from host import nproc

    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # The heap starts at its full size, already resident: a heap that
    # grows while the run measures makes the number of collections, and
    # so the job time, and the peak RSS differ from run to run.
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell"])


def program_present() -> bool:
    """The package must be importable from this checkout, not elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import ecmm428_pycart_spark as pkg
    except ImportError as exc:
        log(f"cartobench: cannot import the program: {exc}")
        return False
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        log(f"cartobench: program imported from outside the checkout: "
            f"{pkg.__file__}")
        return False
    return True


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its Python driver
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def layer_value(tracer, name, value=None, **attrs) -> float:
    """Median, over jobs, of a layer's span time (or ``value(span)``),
    taken from the job when the job calls the layer, else from set-up,
    else from the probes. Spans of one job or phase are summed."""
    value = value or (lambda s: s["end"] - s["start"])
    for phase in ("job", "setup", "probe"):
        found = tracer.find(name, phase, **attrs)
        if found:
            groups: dict = {}
            for s in found:
                key = tracer.root(s)["id"] if phase == "job" else phase
                groups[key] = groups.get(key, 0.0) + value(s)
            return statistics.median(groups.values())
    raise LookupError(f"no span {name} {attrs}")


def per_layer_metrics(tracer, w, untraced, traced) -> dict:
    m = {k: layer_value(tracer, span) for k, span in LAYER_SPANS.items()}
    count = lambda c: (lambda s: s["counters"][c])  # noqa: E731
    m["sources.read_tasks"] = layer_value(tracer, "sources.read",
                                          count("spark.tasks"))
    m["operators.borders_shuffle_mb"] = layer_value(
        tracer, "operators.borders", count("spark.shuffle_write_mb"))

    mode = w.dorling_mode
    k = max(s["attrs"]["iterations"]
            for s in tracer.find("plans.dorling", mode=mode))

    def per_iter(value=None):
        return (layer_value(tracer, "plans.dorling", value, mode=mode,
                            iterations=k)
                - layer_value(tracer, "plans.dorling", value, mode=mode,
                              iterations=0)) / k

    m["plans.dorling_setup_s"] = layer_value(tracer, "plans.dorling",
                                             mode=mode, iterations=0)
    m["plans.dorling_iter_s"] = per_iter()
    m["plans.dorling_stages_per_iter"] = per_iter(count("spark.stages"))
    m["plans.dorling_shuffle_mb_per_iter"] = per_iter(
        count("spark.shuffle_write_mb"))
    m["plans.dorling_reference_s"] = layer_value(
        tracer, "plans.dorling", mode="reference", iterations=w.ref_iterations)
    for c in JOB_COUNTERS:
        m[c] = statistics.median(s["counters"][c]
                                 for s in tracer.find("job", "job"))
    m["trace_overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    pin_env()
    if not program_present():
        return 2
    import host
    from spans import Tracer
    from workloads import WORKLOADS, Ctx, run_probes
    from ecmm428_pycart_spark.session import get_spark

    if args.workload not in WORKLOADS:
        log(f"cartobench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2
    traced_run = bool(args.trace)
    w = WORKLOADS[args.workload](args.seed, WORK)
    log(f"cartobench: inputs and oracles ready "
        f"({time.perf_counter() - t_start:.1f}s)")

    # Set-up: a ready session with the inputs loaded through the program
    # and the workload's precomputed state. The first set-up starts the
    # JVM and the session; the later ones find the session running
    # (get_spark returns it) and repeat the loading from scratch. Then
    # untimed warm-up jobs: the job time keeps falling for the first few
    # jobs while the JIT compiles, so their number is fixed, not their
    # time, which a slow host would cut short.
    setups, ctx = [], None
    for _ in range(1 if traced_run else SETUPS):
        t0 = time.perf_counter()
        if ctx is not None:
            ctx.close()
        spark = get_spark("cartobench")
        tracer = Tracer(spark, traced_run)
        ctx = Ctx(spark, tracer)
        w.setup(ctx)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for _ in range(w.warmup_jobs):
        with tracer.paused():
            w.job(ctx)
        ctx.release()
    warmup = time.perf_counter() - t0
    log(f"cartobench: set-ups {[round(s, 2) for s in setups]}, "
        f"{w.warmup_jobs} warm-up jobs {warmup:.2f}s")

    # Closed loop, one client: the next job starts when the last is done.
    untraced, traced, wall = [], [], 0.0
    attempted = failed = regions = 0
    deadline = time.perf_counter() + args.seconds
    while True:
        trace_this = traced_run and len(traced) < len(untraced)
        t0 = time.perf_counter()
        try:
            if trace_this:
                n = w.job(ctx)
            else:
                with tracer.paused():
                    n = w.job(ctx)
        except Exception:  # a raising or wrong job counts as failed
            log(traceback.format_exc())
            n = None
        dt = time.perf_counter() - t0
        ctx.release()
        attempted += 1
        if n is None:
            failed += 1
        elif trace_this:
            traced.append(dt)
        else:
            untraced.append(dt)
            regions += n
            wall += dt
        if traced_run:
            done = min(len(untraced), len(traced)) >= MIN_TRACED_JOBS
        else:
            done = len(untraced) >= MIN_JOBS
        if time.perf_counter() >= deadline and (
                done or attempted >= 4 * MIN_JOBS):
            break
    log(f"cartobench: {attempted} jobs, {failed} failed, untraced "
        f"{[round(t, 2) for t in untraced]}, traced "
        f"{[round(t, 2) for t in traced]}")

    if traced_run and failed == 0:
        run_probes(ctx, w)
        tracer.collect_counters()
    rss = {"python": host.peak_rss_mb(os.getpid()),
           "jvm": host.peak_rss_mb(jvm_pid())}
    peak_mb = sum(rss.values())
    fingerprint = host.fingerprint(spark)
    stop_jvm(spark)

    if failed:
        metrics = {}
    elif traced_run:
        metrics = per_layer_metrics(tracer, w, untraced, traced)
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "job_s_p50": statistics.median(untraced),
            "regions_per_s": regions / wall,
            "peak_rss_mb": peak_mb,
        }
    out_metrics = {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": fingerprint, "peak_rss_mb_each": rss,
        "setup_s_each": setups, "warmup_s": warmup, "warmup_jobs": w.warmup_jobs,
        "job_s_untraced": untraced, "job_s_traced": traced,
        "attempted": attempted, "failed": failed,
        "job_fail_ratio": failed / attempted,
        "metrics": out_metrics,
        "spans": tracer.spans if traced_run else [],
        "wall_s": time.perf_counter() - t_start,
    }
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)
    log(f"cartobench: record {rec_path} ({record['wall_s']:.1f}s)")

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
