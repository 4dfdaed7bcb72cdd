"""Spans around the benchmark's calls into the program, with the Spark
counters of the jobs each span ran.

A span sets its own Spark job group, so every job submitted inside it is
tagged with the span's group id. Counters are read once, after the traced
phase, from the SparkContext's status store (which is kept with the UI
off): jobs, executed stages and tasks, executor run time, shuffle and
spill bytes, and the driver gap -- span wall time not covered by any of
its jobs. A span's counters include those of the spans nested in it.
"""

from __future__ import annotations

import contextlib
import time

_MB = 1024.0 * 1024.0


class Tracer:
    """Records spans in memory; ``enabled=False`` makes ``span`` a no-op
    so the untraced path runs exactly the same code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str, phase: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._seq, "name": name, "group": f"cartobench-{self._seq}",
               "parent": parent["id"] if parent else None,
               "phase": phase or (parent["phase"] if parent else ""),
               "attrs": attrs}
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    @contextlib.contextmanager
    def paused(self):
        """Run untraced work (an untraced job, or a probe's untimed
        inputs) without recording spans."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def collect_counters(self) -> None:
        """Attach Spark counters to every recorded span."""
        if not self.spans:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        own = {s["id"]: _group_jobs(store, tracker, s["group"])
               for s in self.spans}
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])

        def subtree(sid):
            jobs = dict(own[sid])
            for c in children.get(sid, []):
                jobs.update(subtree(c))
            return jobs

        for s in self.spans:
            s["counters"] = _counters(store, subtree(s["id"]),
                                      s["start"], s["end"])

    def root(self, span: dict) -> dict:
        by_id = {s["id"]: s for s in self.spans}
        while span["parent"] is not None:
            span = by_id[span["parent"]]
        return span

    def find(self, name: str, phase: str | None = None,
             **attrs) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (phase is None or s["phase"] == phase)
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def _group_jobs(store, tracker, group: str) -> dict:
    """job id -> (submitted, completed, stage ids) for one job group."""
    out = {}
    for jid in tracker.getJobIdsForGroup(group):
        jd = store.job(jid)
        ids = jd.stageIds()
        out[jid] = (_opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime()),
                    [ids.apply(i) for i in range(ids.size())])
    return out


def _counters(store, jobs: dict, start: float, end: float) -> dict:
    stages = tasks = 0
    run_ms = shuffle_r = shuffle_w = spill = 0
    intervals = []
    seen = set()
    for sub, done, sids in jobs.values():
        if sub is not None and done is not None:
            intervals.append((max(sub / 1000.0, start), min(done / 1000.0, end)))
        for sid in sids:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage never submitted (skipped): no entry
                continue
            if st.status().toString() != "COMPLETE":
                continue
            stages += 1
            tasks += st.numCompleteTasks()
            run_ms += st.executorRunTime()
            shuffle_r += st.shuffleReadBytes()
            shuffle_w += st.shuffleWriteBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return {
        "spark.jobs": len(jobs),
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.shuffle_read_mb": shuffle_r / _MB,
        "spark.shuffle_write_mb": shuffle_w / _MB,
        "spark.spill_mb": spill / _MB,
        "driver_gap_s": max(0.0, (end - start) - _union(intervals)),
    }


def _union(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
