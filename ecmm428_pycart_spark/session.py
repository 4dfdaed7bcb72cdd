"""SparkSession factory tuned for the test harness (local[N]) while keeping
settings that scale to a real cluster (AQE, adaptive shuffle sizing)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ecmm428_pycart_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local mode is a single JVM; on a real cluster the same settings apply
    per-executor. AQE is on so shuffle partition counts re-plan at runtime
    (the 100 TB path relies on AQE coalescing + skew-join handling).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # workers skip re-reading unchanged zip archives on every task
        .config("spark.python.daemon.module", "ecmm428_pycart_spark.pydaemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md).

    The generator's timestamp physical type has varied across rounds:
    INT64 TIMESTAMP(NANOS) (round 2) and TIMESTAMP(MICROS) without the
    isAdjustedToUTC flag (round 3), which Spark 4 reads as TIMESTAMP_NTZ.
    Normalize both to plain TimestampType: the session timezone is pinned
    to UTC, so NTZ->LTZ reinterprets the same wall-clock as the same
    instant, matching DuckDB's naive-timestamp view of the same file.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    from pyspark.sql import functions as F
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif name == "events" and col == "ts" and dtype == "bigint":
            df = df.withColumn(col, F.expr("timestamp_micros(ts DIV 1000)"))
    return df


TESTDATA_TABLES = ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings"]


def register_views(spark: SparkSession, sf_dir: str,
                   tables: list[str] | None = None) -> None:
    """Register the testdata tables as temp views so the whole engine
    surface is reachable from ``spark.sql`` as well as the DataFrame API
    (Catalyst produces the same plans either way)."""
    for name in tables or TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


import contextlib


def _explicitly_set(spark, key: str) -> bool:
    """True iff ``key`` has an explicit value in the session's settings
    map. ``spark.conf.get(k, None)`` is NOT this test: it returns the
    built-in DEFAULT for known SQL confs, so it cannot distinguish
    "set to the default" from "never set"."""
    try:
        return bool(spark._jsparkSession.sessionState().conf()
                    .settings().containsKey(key))
    except Exception:
        # JVM internals moved (future Spark): fall back to treating the
        # effective value as explicit — restores the same effective
        # value, merely leaving it pinned rather than unset
        return spark.conf.get(key, None) is not None


@contextlib.contextmanager
def pinned_confs(spark, confs: dict):
    """Set session confs for a scope and restore them exactly —
    re-unsetting keys that had NO explicit value before (so a
    previously-default key goes back to tracking the default rather
    than being pinned to a copy of it), and re-setting keys that did.
    The save/set/try/finally dance pinned-strategy queries and tests
    otherwise hand-roll, with explicit-vs-default detection via the
    session's own settings map (see _explicitly_set)."""
    saved = {k: (spark.conf.get(k, None) if _explicitly_set(spark, k)
                 else None)
             for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def spread_small(df, max_tasks=None):
    """Raise a DataFrame's partition count to the session's default
    parallelism when it is below it — the map-side parallelism fix for
    heavy per-row work (Arrow decode stages, fingerprint hashing)
    downstream of a SMALL single-file scan. Parquet splits at row-group
    boundaries and the testdata files are written as ONE row group, so
    ``spark.sql.files.maxPartitionBytes`` cannot spread the scan: every
    pre-shuffle map stage otherwise runs as a single task regardless of
    core count (r13 measurement: m19's whole 6.7s decode ran on 1 of 32
    cores). Scale-adaptive by construction: at production scale a scan
    already carries >= defaultParallelism partitions and this returns
    the input unchanged (no shuffle added); the shuffle it does add
    locally moves only the projected input columns. The target follows
    the session's core count (SPARK_GRAFT_CPUS), not a constant.

    ``max_tasks`` caps the spread degree BELOW the session parallelism
    (VERDICT r13 next-1): for a tiny input whose per-task work is an
    Arrow python-worker round trip, full fan-out multiplies exposure to
    the host's pathological many-thread scheduling regime (the driver
    recorded m12 at 30.2s@32c on 5000 rows / 32 workers) while buying
    nothing once every task already holds >~100 ms of kernel work
    (OPTIMIZATION_r14.md's m12 A/B: cap-8 == full spread at 8 AND 32
    cores). The cap only ever LOWERS the added local shuffle's width; the
    production no-op property is unchanged (a scan with >= parallelism
    partitions returns unmodified before the cap is even consulted)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if max_tasks is not None:
        target = min(target, max_tasks)
    return df.repartition(target)


def spread_cpu(df):
    """Unconditionally repartition to the session's default parallelism
    — for CPU-dense stages DOWNSTREAM OF A SHUFFLE, where
    ``spread_small``'s static check is blind: the physical plan reports
    the static shuffle-partition count (>= parallelism), but AQE
    re-coalesces small shuffle outputs by BYTES at runtime, and a stage
    whose cost is array/decode CPU per row rather than bytes lands on a
    handful of tasks (r13b measurement: d28's exact-jaccard verify over
    234k candidate pairs ran 4.5s on AQE-coalesced partitions vs 2.2s
    spread). The explicit exchange moves only the frame's (narrow)
    columns — for a candidate-pair stream, two ids per row — while the
    stage it feeds does hundreds of array ops per row, so the shuffle
    stays amortized at any scale. Use ``spread_small`` for scan-level
    inputs instead."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def checkpoint(df):
    """The package's one plan-truncating checkpoint: a LAZY
    ``localCheckpoint``. An iterative driver loop (Dorling exchanges,
    k-means, graph rounds, BPE merges) calls it once per step so the
    plan stays flat; being lazy, it compiles into the step's next
    consuming job instead of running a blocking job of its own, so
    each step costs one job fewer and no row changes.

    The rule: a checkpoint is lazy, and it is eager
    (``df.localCheckpoint(eager=True)``, written inline with a comment
    naming its consumers) only where one job fans out to several
    consumers of the subtree, so the subtree runs once, in its own job,
    before any of them reads it. At ``graph.per_node_triangles`` the
    input is read as often with a lazy checkpoint as with the eager
    one (its read-count test passes either way), so the eagerness
    there is a precaution, not a measured need."""
    return df.localCheckpoint(eager=False)


def scratch_dir(prefix: str) -> str:
    """``mkdtemp`` that cannot leak: the directory is registered for
    removal at interpreter exit. Roundtrip gate/bench queries write
    artifacts the returned (lazy) DataFrame still reads AFTER the
    query function returns, so eager cleanup inside the function is
    impossible for them — this bounds the artifact's lifetime to the
    session instead of forever (the advisor-flagged temp-dir leak
    class). Queries whose results are already materialized eagerly
    should still prefer deleting on the spot (benchmarks/queued.py's
    _collect_then_cleanup)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
