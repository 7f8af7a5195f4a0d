"""Spans around calls into the package's layers, with Spark work
attributed from the driver's status store.

A span records wall time plus the Spark jobs whose ids were allocated
while it was open: jobs, stages and tasks run, executor run/CPU/GC
time, shuffle and input bytes, and ``driver_gap_s`` (span time with no
Spark job running). Attribution is by job-id range read from the
status store around the call, so work submitted from other driver
threads — a streaming query's ``foreachBatch`` — is counted too, which
job groups would miss. Spark fills the store asynchronously from its
listener bus, so every span boundary first waits for the bus to drain;
a job is kept only once it has ended, and one still running is read
again by the next span that asks for it. Job data is read at every
span boundary, long before the store's retention limit
(``spark.ui.retainedJobs``, 1000 by default) could evict it.

Nothing here is installed unless the benchmark runs with ``--trace 1``;
the untraced run calls the package directly.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_FIELDS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                "gc_s", "shuffle_mb", "input_mb")


class JobLedger:
    """Per-job Spark work, read from the status store and kept once
    the job has ended."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.jobs: dict[int, dict] = {}
        self.seen_stages: set[int] = set()

    def max_job_id(self) -> int:
        """Highest job id so far, once every event posted before the
        call has reached the store. The store lists jobs newest first
        and, unlike ``statusTracker().getJobIdsForGroup(None)``,
        includes jobs run under a job group (every streaming batch
        is)."""
        self.bus.waitUntilEmpty()
        jobs = self.store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _opt_ms(self, opt):
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def _stage(self, sid: int) -> dict:
        out = dict.fromkeys(SPARK_FIELDS[1:], 0.0)
        attempts = self.store.stageData(sid, False, None, False, None)
        for i in range(attempts.size()):
            s = attempts.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["exec_run_s"] += s.executorRunTime() / 1e3
            out["exec_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_mb"] += (s.shuffleReadBytes()
                                  + s.shuffleWriteBytes()) / 2**20
            out["input_mb"] += s.inputBytes() / 2**20
        return out

    def job(self, jid: int) -> dict:
        """Work of one job: cached if it has ended, read otherwise. A
        stage shared with an earlier ended job is counted there only."""
        if jid in self.jobs:
            return self.jobs[jid]
        rec = dict.fromkeys(SPARK_FIELDS, 0.0)
        rec["jobs"] = 1
        rec["start"] = rec["end"] = None
        try:
            job = self.store.job(jid)
        except Exception:  # noqa: BLE001 - evicted from the store
            self.jobs[jid] = rec
            return rec
        ended = job.status().toString() in ("SUCCEEDED", "FAILED")
        rec["start"] = self._opt_ms(job.submissionTime())
        rec["end"] = self._opt_ms(job.completionTime())
        sids = job.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in self.seen_stages:
                continue
            for k, v in self._stage(sid).items():
                rec[k] += v
            if ended:
                self.seen_stages.add(sid)
        if ended:
            self.jobs[jid] = rec
        return rec

    def between(self, lo: int, hi: int, t0: float, t1: float) -> dict:
        """Sum of jobs lo < id <= hi; driver gap within [t0, t1]."""
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        intervals = []
        for jid in range(lo + 1, hi + 1):
            rec = self.job(jid)
            for k in SPARK_FIELDS:
                out[k] += rec[k]
            if rec["start"] is not None:
                intervals.append((max(rec["start"], t0),
                                  min(rec["end"] or t1, t1)))
        busy, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(intervals):
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    busy += max(0.0, cur_hi - cur_lo)
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            busy += max(0.0, cur_hi - cur_lo)
        out["driver_gap_s"] = max(0.0, (t1 - t0) - busy)
        return out


class Tracer:
    """Aggregates spans by name. ``group`` suppresses nested spans of
    the same group (an operator calling another operator is counted
    once, by the outermost call)."""

    def __init__(self, spark):
        self.ledger = JobLedger(spark)
        self.totals: dict[str, dict] = defaultdict(
            lambda: defaultdict(float))
        self.spans: list[dict] = []
        self._open: list[str] = []
        self.paused = False

    @contextmanager
    def span(self, name: str, group: str | None = None):
        group = group or name
        if self.paused or group in self._open:
            yield
            return
        self._open.append(group)
        lo = self.ledger.max_job_id()
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._open.remove(group)
            d = self.ledger.between(lo, self.ledger.max_job_id(), t0, t1)
            d["s"] = t1 - t0
            d["calls"] = 1
            tot = self.totals[name]
            for k, v in d.items():
                tot[k] += v
            self.spans.append({"name": name, "start": t0, "end": t1,
                               "parent": self._open[-1] if self._open
                               else None, **d})

    @contextmanager
    def pause(self):
        """Benchmark bookkeeping inside this block records no spans."""
        self.paused = True
        try:
            yield
        finally:
            self.paused = False

    def wrap(self, fn, name: str, group: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, group):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, group: str | None = None,
              everywhere: str | None = None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. With
        ``everywhere`` (a package prefix), also replace every module
        global of that package bound to the same function, so
        ``from x import f`` copies are traced too."""
        orig = getattr(owner, attr)
        wrapped = self.wrap(orig, name, group)
        targets = [owner]
        if everywhere:
            targets += [m for k, m in list(sys.modules.items())
                        if k.startswith(everywhere) and m is not owner
                        and getattr(m, attr, None) is orig]
        for t in targets:
            setattr(t, attr, wrapped)

    def get(self, name: str, field: str = "s") -> float:
        return self.totals[name][field] if name in self.totals else 0.0
