"""Structured Streaming tests: drive the event pipeline with
trigger(availableNow) into a memory sink and cross-check against the
equivalent batch aggregation."""

import os

import pytest
from pyspark.sql import functions as F

from ecmm428_pycart_spark.session import load_table
from ecmm428_pycart_spark.streaming import events as se

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """File stream source needs a directory; stage the events parquet."""
    d = tmp_path_factory.mktemp("events_stream")
    os.symlink(f"{SF_DIR}/events.parquet", d / "events.parquet")
    return str(d)


def _run_to_memory(spark, sdf, name):
    q = (sdf.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def test_hourly_stream_matches_batch(spark, events_dir):
    stream = se.read_events_stream(spark, events_dir)
    assert stream.isStreaming
    out = _run_to_memory(spark, se.hourly_event_counts(stream), "hourly_t")

    batch = (load_table(spark, SF_DIR, "events")
             .groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("value"), 2).alias("sum_value")))
    got = {(r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
           for r in out.collect()}
    want = {(r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
            for r in batch.collect()}
    assert got == want and len(got) > 0


def test_sessionize_stream_counts(spark, events_dir):
    stream = se.read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, se.sessionize_stream(stream), "sessions_t")
    rows = out.collect()
    assert len(rows) > 0
    # every session respects the gap: end >= start, events counted
    total = sum(r["n_events"] for r in rows)
    assert total == load_table(spark, SF_DIR, "events").count()
    # session count per user matches the batch lag-based q20 logic
    from ecmm428_pycart_spark.benchmarks.relational import q20_sessionize
    batch = {r["user_id"]: r["n_sessions"]
             for r in q20_sessionize(spark, SF_DIR).collect()}
    stream_counts = {}
    for r in rows:
        stream_counts[r["user_id"]] = stream_counts.get(r["user_id"], 0) + 1
    assert stream_counts == batch


def test_running_user_stats_stateful(spark, events_dir):
    stream = se.read_events_stream(spark, events_dir)
    sdf = se.running_user_stats(stream)
    q = (sdf.writeStream.format("memory").queryName("ustats_t")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # last update per user == full-history aggregate (sum emitted raw,
    # rounded here with F.round — HALF_UP on both sides)
    got = {r["user_id"]: (r["n_events"], r["sum_value"])
           for r in spark.table("ustats_t")
               .select("user_id", "n_events",
                       F.round("sum_value", 2).alias("sum_value"))
               .collect()}
    batch = (load_table(spark, SF_DIR, "events").groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("value"), 2).alias("s")))
    want = {r["user_id"]: (r["n"], r["s"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_foreachbatch_parquet_sink(spark, events_dir, tmp_path):
    """Streaming → parquet via foreachBatch (the production sink shape:
    per-batch exactly-once writes keyed by batch id)."""
    out_dir = str(tmp_path / "hourly_parquet")

    def write_batch(df, batch_id):
        df.write.mode("append").parquet(out_dir)

    stream = se.read_events_stream(spark, events_dir)
    q = (se.hourly_event_counts(stream).writeStream
         .outputMode("complete").foreachBatch(write_batch)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    back = spark.read.parquet(out_dir)
    want = (load_table(spark, SF_DIR, "events")
            .groupBy(F.date_trunc("hour", "ts"), "event_type").count().count())
    assert back.count() == want


def test_watermark_drops_late_data(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): batch 1 advances the
    watermark far ahead; batch 2's stale rows fall behind it and are
    dropped from the append-mode windowed aggregation."""
    import pandas as pd

    d = tmp_path / "late_events"
    d.mkdir()
    fresh = pd.DataFrame({
        "event_id": [1, 2], "ts": pd.to_datetime(
            ["2024-06-01 10:00:00", "2024-06-01 23:00:00"]),
        "user_id": [1, 1], "event_type": ["click", "click"],
        "value": [1.0, 1.0], "props": ["{}", "{}"],
    })
    # a middle batch so the 10:00 window is evicted+emitted (watermark
    # passes its end during batch 1) BEFORE the late row arrives —
    # eviction happens within the batch that first sees the advanced
    # watermark, so a row late by only one batch still merges
    mid = pd.DataFrame({
        "event_id": [4], "ts": pd.to_datetime(["2024-06-01 23:30:00"]),
        "user_id": [1], "event_type": ["click"], "value": [1.0],
        "props": ["{}"],
    })
    late = pd.DataFrame({
        "event_id": [3], "ts": pd.to_datetime(["2024-06-01 10:30:00"]),
        "user_id": [1], "event_type": ["click"], "value": [1.0],
        "props": ["{}"],
    })
    # ns timestamps to mirror the real events table layout; the file
    # source orders batches by modification time, so pin mtimes to make
    # the fresh file micro-batch 1 and the late file micro-batch 2
    import time as _time
    now = _time.time()
    for name, pdf, mtime in [("a_fresh.parquet", fresh, now - 1000),
                             ("b_mid.parquet", mid, now - 500),
                             ("c_late.parquet", late, now)]:
        p = d / name
        pdf.assign(ts=pdf["ts"].astype("datetime64[ns]")).to_parquet(
            p, index=False)
        os.utime(p, (mtime, mtime))

    stream = (spark.readStream.schema(se.EVENT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(d))
              .withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)")))
    agg = se.hourly_event_counts(stream, watermark="2 hours")
    q = (agg.writeStream.format("memory").queryName("late_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table("late_t").collect()
    # the 10:00 window was emitted+evicted during batch 1 (watermark
    # 21:00 > window end); batch 2's 10:30 straggler is behind the
    # watermark with no live state → dropped, count stays 1 and the
    # window is not re-emitted
    by_start = {}
    for r in rows:
        by_start.setdefault(r["window_start"].hour, []).append(r["n"])
    assert by_start.get(10) == [1]


def test_stream_static_join(spark, events_dir):
    """Stream-static join: enrich the event stream with a static dim
    table (broadcast per micro-batch) — the standard streaming-enrichment
    pattern."""
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")],
        ["event_type", "category"])
    stream = se.read_events_stream(spark, events_dir)
    joined = (stream.join(F.broadcast(dim), "event_type")
              .groupBy("category")
              .agg(F.count(F.lit(1)).alias("n")))
    q = (joined.writeStream.format("memory").queryName("enrich_t")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["category"]: r["n"] for r in spark.table("enrich_t").collect()}
    assert sum(got.values()) == load_table(spark, SF_DIR, "events").count()
    assert set(got) <= {"engagement", "revenue", "growth", "ops"}


def test_dedupe_stream(spark, events_dir, tmp_path):
    """Streaming dedup: feed the same events file twice (two batches) —
    duplicates across batches are dropped by keyed state."""
    d = tmp_path / "dup_events"
    d.mkdir()
    os.symlink(f"{SF_DIR}/events.parquet", d / "a.parquet")
    os.symlink(f"{SF_DIR}/events.parquet", d / "b.parquet")
    stream = se.read_events_stream(spark, str(d))
    q = (se.dedupe_stream(stream).writeStream.format("memory")
         .queryName("dedupe_t").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    n = spark.table("dedupe_t").count()
    assert n == load_table(spark, SF_DIR, "events").count()


def test_stream_stream_interval_join(spark, events_dir):
    """Stream-stream inner join with an event-time interval constraint:
    click events joined to error events of the same user within the
    following hour. Both sides watermarked so join state is bounded."""
    s1 = (se.read_events_stream(spark, events_dir)
          .filter(F.col("event_type") == "click")
          .select(F.col("user_id"), F.col("ts").alias("click_ts"),
                  F.col("event_id").alias("click_id"))
          .withWatermark("click_ts", "2 hours"))
    s2 = (se.read_events_stream(spark, events_dir)
          .filter(F.col("event_type") == "error")
          .select(F.col("user_id").alias("user_id2"),
                  F.col("ts").alias("error_ts"),
                  F.col("event_id").alias("error_id"))
          .withWatermark("error_ts", "2 hours"))
    joined = s1.join(
        s2,
        (F.col("user_id") == F.col("user_id2"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")))
    q = (joined.writeStream.format("memory").queryName("ssj_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.table("ssj_t").count()
    ev = load_table(spark, SF_DIR, "events")
    c = ev.filter(F.col("event_type") == "click") \
          .select("user_id", F.col("ts").alias("click_ts"))
    e = ev.filter(F.col("event_type") == "error") \
          .select(F.col("user_id").alias("user_id2"),
                  F.col("ts").alias("error_ts"))
    want = c.join(e, (F.col("user_id") == F.col("user_id2"))
                  & (F.col("error_ts") >= F.col("click_ts"))
                  & (F.col("error_ts") <= F.col("click_ts")
                     + F.expr("INTERVAL 1 HOUR"))).count()
    assert got == want > 0


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """Exactly-once incremental processing: a restarted query with the
    same checkpointLocation skips data already committed and processes
    only newly arrived files."""
    import pandas as pd
    src = tmp_path / "inc_src"
    sink = tmp_path / "inc_sink"
    ckpt = tmp_path / "inc_ckpt"
    src.mkdir()

    def write_file(name, ids):
        pdf = pd.DataFrame({
            "event_id": ids,
            "ts": pd.to_datetime(["2024-06-01 10:00:00"] * len(ids)),
            "user_id": [1] * len(ids), "event_type": ["click"] * len(ids),
            "value": [1.0] * len(ids), "props": ["{}"] * len(ids),
        })
        pdf.assign(ts=pdf["ts"].astype("datetime64[ns]")).to_parquet(
            src / name, index=False)

    def run_once():
        stream = (spark.readStream.schema(se.EVENT_SCHEMA).parquet(str(src))
                  .withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)")))
        q = (stream.writeStream.format("parquet")
             .option("path", str(sink))
             .option("checkpointLocation", str(ckpt))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    write_file("f1.parquet", [1, 2, 3])
    run_once()
    assert spark.read.parquet(str(sink)).count() == 3

    write_file("f2.parquet", [4, 5])
    run_once()
    out = spark.read.parquet(str(sink))
    assert out.count() == 5                      # no reprocessing of f1
    assert out.select("event_id").distinct().count() == 5


def test_foreach_batch_upsert_idempotent_retry(spark, tmp_path):
    """The batch-id-stamped upsert sink must collapse a retried
    micro-batch (same rows re-appended with the same batch id) and
    resolve each key to its LATEST batch's row — the effectively-once
    contract foreachBatch requires from its sink."""
    import pandas as pd

    from ecmm428_pycart_spark.streaming.events import (
        foreach_batch_upsert_writer, read_upsert_state)

    sink = str(tmp_path / "upsert")
    write = foreach_batch_upsert_writer(sink)

    def batch(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["event_date", "event_type",
                                        "n", "sum_value"]))

    b0 = batch([("2024-01-01", "click", 3, 1.5),
                ("2024-01-01", "error", 1, 9.0)])
    b1 = batch([("2024-01-01", "click", 7, 4.5),   # click updated
                ("2024-01-02", "click", 2, 2.0)])  # new key
    write(b0, 0)
    write(b1, 1)
    write(b1, 1)  # retried micro-batch: same rows, same batch id

    state = {(r["event_date"], r["event_type"]): (r["n"], r["sum_value"])
             for r in read_upsert_state(spark, sink).collect()}
    assert state == {("2024-01-01", "click"): (7, 4.5),
                     ("2024-01-01", "error"): (1, 9.0),
                     ("2024-01-02", "click"): (2, 2.0)}


def test_funnel_stream_matches_batch(spark, tmp_path):
    """Streaming funnel over a 3-slice time-ordered replay must land on
    exactly the batch funnel's step counts (cross-batch state: users'
    funnels span slices)."""
    import uuid

    from pyspark.sql import Window as W

    from ecmm428_pycart_spark.datapipe.funnel import funnel

    ev = (load_table(spark, SF_DIR, "events")
          .filter(F.col("ts") < F.lit("2024-01-08 00:00:00")
                  .cast("timestamp")))
    steps = ["view", "click", "purchase"]
    ranked = ev.withColumn(
        "_b", F.ntile(3).over(W.orderBy("ts", "event_id"))) \
        .localCheckpoint(eager=True)
    slices = [ranked.filter(F.col("_b") == i).drop("_b")
              for i in range(1, 4)]
    d = str(tmp_path)
    se.write_time_ordered_stream_dir(slices, d)

    stream = (se.read_events_stream(spark, d, max_files_per_trigger=1)
              .filter(F.col("event_type").isin(steps))
              .select("user_id", "ts", "event_id", "event_type"))
    name = f"fs_{uuid.uuid4().hex[:8]}"
    q = (se.funnel_stream(stream, steps).writeStream
         .format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    depth = (spark.table(name).groupBy("user_id")
             .agg(F.max("depth").alias("depth")))
    got = {i: depth.filter(F.col("depth") >= i).count()
           for i in (1, 2, 3)}
    want = {r["step_idx"]: r["n_users"]
            for r in funnel(ev, steps).collect()}
    assert got == want and got[1] > got[3] >= 0
    # multiple micro-batches actually ran (update rows accumulate)
    assert spark.table(name).count() > depth.count()


def test_tws_running_stats_parity_or_gated(spark, events_dir):
    """Spark 4 transformWithStateInPandas running stats: where the
    protobuf protocol dependency exists, results must equal the batch
    aggregate; in this container (no python protobuf) the operator
    must refuse with a clear NotImplementedError — never a deep
    executor crash."""
    import uuid

    from ecmm428_pycart_spark.streaming.events import (_tws_available,
                                                       tws_running_stats)

    stream = se.read_events_stream(spark, events_dir)
    if not _tws_available():
        with pytest.raises(NotImplementedError):
            tws_running_stats(stream)
        pytest.skip("python protobuf absent; transformWithState gated")
    from ecmm428_pycart_spark.session import pinned_confs

    with pinned_confs(spark, {
            "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state"
            ".RocksDBStateStoreProvider"}):
        name = f"tws_{uuid.uuid4().hex[:8]}"
        q = (tws_running_stats(stream).writeStream.format("memory")
             .queryName(name).outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    # F.round on BOTH sides (HALF_UP parity, the convention
    # test_running_user_stats_stateful documents)
    got = {r["user_id"]: (r["n_events"], r["sum_value"])
           for r in spark.table(name).groupBy("user_id")
           .agg(F.max("n_events").alias("n_events"),
                F.round(F.max("sum_value"), 2).alias("sum_value"))
           .collect()}
    want = {r["user_id"]: (r["n"], r["s"])
            for r in load_table(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2)
                 .alias("s")).collect()}
    assert got == want


def test_stateful_drift_state_survives_checkpoint_restart(spark, tmp_path):
    """applyInPandasWithState state must RESUME from the checkpoint
    across a full query stop/restart (ROUND9_PLAN item 3, started
    round 8): run the value-drift monitor over two slices, stop, add
    a third slice, restart with the SAME checkpoint, and require the
    final per-key emission to equal a fresh single-run over all three
    slices. If the state store were lost on restart, the second run's
    counts would cover only slice 3 and every drift number would
    shrink — the comparison is sharp."""
    import pandas as pd

    from ecmm428_pycart_spark.benchmarks.relational import _await_stream
    from ecmm428_pycart_spark.session import load_table
    from ecmm428_pycart_spark.streaming.events import (
        read_events_stream, stream_value_drift,
        write_time_ordered_stream_dir)

    ev = (load_table(spark, "/root/testdata/sf0.001", "events")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    slices = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
              for i in range(3)]

    def run(src, ckpt, sink):
        def emit(df, bid):
            (df.withColumn("_batch", F.lit(bid))
             .write.mode("append").parquet(sink))
        w = (stream_value_drift(
                read_events_stream(spark, src, max_files_per_trigger=1))
             .writeStream.foreachBatch(emit)
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True))
        _await_stream(spark, w)

    def final_emissions(sink):
        pdf = spark.read.parquet(sink).toPandas()
        # last emission per key = argmax of the strictly-increasing
        # n_events (the st21/st22 convention)
        idx = pdf.groupby("event_type")["n_events"].idxmax()
        cols = [c for c in pdf.columns if c != "_batch"]
        return {t.event_type: tuple(t[1:]) for t in
                pdf.loc[idx, cols].itertuples(index=False)}

    # interrupted run: two slices, stop, third arrives, restart
    src_a = str(tmp_path / "src_a")
    os.makedirs(src_a)
    write_time_ordered_stream_dir(slices[:2], src_a, start_seq=0)
    ckpt_a, sink_a = str(tmp_path / "ck_a"), str(tmp_path / "out_a")
    run(src_a, ckpt_a, sink_a)
    write_time_ordered_stream_dir(slices[2:], src_a, start_seq=2)
    run(src_a, ckpt_a, sink_a)      # SAME checkpoint: must resume

    # reference: uninterrupted single run over all three slices
    src_b = str(tmp_path / "src_b")
    os.makedirs(src_b)
    write_time_ordered_stream_dir(slices, src_b, start_seq=0)
    ckpt_b, sink_b = str(tmp_path / "ck_b"), str(tmp_path / "out_b")
    run(src_b, ckpt_b, sink_b)

    got, want = final_emissions(sink_a), final_emissions(sink_b)
    assert got == want and len(got) > 0


def _kill_resume_harness(spark, tmp_path, op, final_emissions):
    """Shared kill-and-resume rig (VERDICT r8 next-6): run `op` over two
    event slices, stop, land a third slice, restart on the SAME
    checkpoint, and compare the final per-key emissions against an
    uninterrupted single run over all three slices. Returns
    (resumed, uninterrupted) final-emission dicts."""
    from ecmm428_pycart_spark.benchmarks.relational import _await_stream
    from ecmm428_pycart_spark.session import load_table
    from ecmm428_pycart_spark.streaming.events import (
        read_events_stream, write_time_ordered_stream_dir)

    ev = (load_table(spark, "/root/testdata/sf0.001", "events")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    slices = [ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
              for i in range(3)]

    def run(src, ckpt, sink):
        def emit(df, bid):
            (df.withColumn("_batch", F.lit(bid))
             .write.mode("append").parquet(sink))
        w = (op(read_events_stream(spark, src, max_files_per_trigger=1))
             .writeStream.foreachBatch(emit)
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True))
        _await_stream(spark, w)

    src_a = str(tmp_path / "src_a")
    os.makedirs(src_a)
    write_time_ordered_stream_dir(slices[:2], src_a, start_seq=0)
    ckpt_a, sink_a = str(tmp_path / "ck_a"), str(tmp_path / "out_a")
    run(src_a, ckpt_a, sink_a)
    write_time_ordered_stream_dir(slices[2:], src_a, start_seq=2)
    run(src_a, ckpt_a, sink_a)      # SAME checkpoint: must resume

    src_b = str(tmp_path / "src_b")
    os.makedirs(src_b)
    write_time_ordered_stream_dir(slices, src_b, start_seq=0)
    ckpt_b, sink_b = str(tmp_path / "ck_b"), str(tmp_path / "out_b")
    run(src_b, ckpt_b, sink_b)

    return final_emissions(spark, sink_a), final_emissions(spark, sink_b)


def _last_emission_by_batch(spark, sink):
    """Final per-key emission = the row from the key's LAST batch.
    foreachBatch epoch ids resume from the checkpoint on restart, so
    `_batch` is strictly increasing across the stop/restart boundary
    and the per-key argmax is well-defined (one emission per key per
    batch under update mode)."""
    pdf = spark.read.parquet(sink).toPandas()
    idx = pdf.groupby("event_type")["_batch"].idxmax()
    cols = [c for c in pdf.columns if c != "_batch"]
    return {t.event_type: tuple(t[1:]) for t in
            pdf.loc[idx, cols].itertuples(index=False)}


def test_stream_kmv_state_survives_checkpoint_restart(spark, tmp_path):
    """st18's bottom-k sketch must RESUME across a stop/restart: the
    resumed final sketch stats (n_in_sketch, kth, est) must equal an
    uninterrupted run's. Bottom-k union is idempotent/commutative, so
    any divergence here is a state-store loss, not slicing noise — a
    lost state would restart the sketch at slice 3 and shrink
    n_in_sketch/est sharply."""
    from ecmm428_pycart_spark.streaming.events import stream_kmv_distinct

    got, want = _kill_resume_harness(
        spark, tmp_path, lambda s: stream_kmv_distinct(s, k=32),
        _last_emission_by_batch)
    assert got == want and len(got) > 0


def test_stream_rolling_anomaly_survives_checkpoint_restart(spark, tmp_path):
    """st21's hour->count map must RESUME across a stop/restart: final
    per-key emission (n_events argmax, the module convention) must
    equal the uninterrupted run's full rescoring. A lost map would
    drop two slices' counts from every window and flip outlier
    verdicts at the 3-sigma boundary."""
    from ecmm428_pycart_spark.streaming.events import stream_rolling_anomaly

    got, want = _kill_resume_harness(
        spark, tmp_path, stream_rolling_anomaly, _last_emission_by_batch)
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_stream_timeout_sessions_survive_checkpoint_restart(spark, tmp_path):
    """st14's applyInPandasWithState sessionizer must RESUME across a
    stop/restart (VERDICT r9 next-4 — the last non-trivial-state
    streaming entry without this pin): open sessions live in the state
    store with an event-time timeout, so a kill between slices puts
    every mid-session key's state at risk. The interrupted run stops
    after two time-ordered slices and resumes on the SAME checkpoint
    for the rest (incl. the watermark-advancing sentinels that fire
    the final timeouts); its closed-session SET must equal an
    uninterrupted run's. Lost state would split every boundary-
    spanning session in two — different (start, last, n, sum) rows."""
    import datetime

    from pyspark.sql import Window as W

    from ecmm428_pycart_spark.benchmarks.relational import _await_stream
    from ecmm428_pycart_spark.streaming.events import (
        read_events_stream, timeout_sessionize,
        write_time_ordered_stream_dir)

    ev = (load_table(spark, SF_DIR, "events")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    max_ts = ev.agg(F.max("ts")).first()[0]

    def sent(i, hours):
        return spark.createDataFrame(
            [(10**9 + i, max_ts + datetime.timedelta(hours=hours), -1,
              "click", 0.0, None)], ev.schema)

    ranked = (ev.withColumn(
        "_b", F.ntile(4).over(W.orderBy("ts", "event_id")))
        .localCheckpoint(eager=True))
    slices = ([ranked.filter(F.col("_b") == i).drop("_b")
               for i in range(1, 5)] + [sent(0, 200), sent(1, 201)])

    def run(src, ckpt, sink):
        def emit(df, bid):
            df.write.mode("append").parquet(sink)
        stream = (read_events_stream(spark, src, max_files_per_trigger=1)
                  .withWatermark("ts", "1 hour")
                  .select("user_id", "ts", "value"))
        w = (timeout_sessionize(stream, gap_minutes=30)
             .writeStream.foreachBatch(emit)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True))
        _await_stream(spark, w)

    def closed_sessions(sink):
        return sorted(
            (int(r["user_id"]), int(r["session_start_us"]),
             int(r["session_last_us"]), int(r["n_events"]),
             round(float(r["sum_value"]), 2))
            for r in spark.read.parquet(sink).collect()
            if int(r["user_id"]) >= 0)

    # interrupted: two slices, stop mid-stream, rest arrives, resume
    src_a = str(tmp_path / "src_a")
    os.makedirs(src_a)
    write_time_ordered_stream_dir(slices[:2], src_a, start_seq=0)
    ckpt_a, sink_a = str(tmp_path / "ck_a"), str(tmp_path / "out_a")
    run(src_a, ckpt_a, sink_a)
    write_time_ordered_stream_dir(slices[2:], src_a, start_seq=2)
    run(src_a, ckpt_a, sink_a)      # SAME checkpoint: must resume

    # uninterrupted oracle run
    src_b = str(tmp_path / "src_b")
    os.makedirs(src_b)
    write_time_ordered_stream_dir(slices, src_b, start_seq=0)
    ckpt_b, sink_b = str(tmp_path / "ck_b"), str(tmp_path / "out_b")
    run(src_b, ckpt_b, sink_b)

    got, want = closed_sessions(sink_a), closed_sessions(sink_b)
    assert got == want and len(got) > 0
