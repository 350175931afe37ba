"""Spans, scheduler counters and host-health stamps for one benchmark run.

Everything is kept in memory and written out once, when the run ends.
With tracing off the recorder only times operations: it asks the
scheduler nothing and adds no work inside or between the timed windows
beyond two ``perf_counter`` calls per operation.
"""

from __future__ import annotations

import os
import resource
import time
import traceback
from dataclasses import dataclass, field

import numpy as np


def load_1m() -> float:
    return os.getloadavg()[0]


def mem_touch_mb_s(n_bytes: int = 128 << 20) -> float:
    """First-touch bandwidth: allocate fresh pages and write each once.
    A co-tenant contending for memory shows here even when the load
    average reads low."""
    t0 = time.perf_counter()
    a = np.empty(n_bytes, dtype=np.uint8)
    a.fill(1)
    dt = time.perf_counter() - t0
    del a
    return n_bytes / 1e6 / dt


def host_stamp() -> dict:
    return {"load": load_1m(), "mem_touch_mb_s": mem_touch_mb_s()}


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the Spark JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024
        except OSError:
            pass
    return mb


@dataclass
class Op:
    """One operation the closed-loop client issued."""

    kind: str
    name: str
    seconds: float
    ok: bool = True
    layers: dict = field(default_factory=dict)  # stage clock, trace only
    sched: dict = field(default_factory=dict)  # scheduler counts, trace only


class Recorder:
    """Times operations and, when tracing, attributes Spark jobs to them.

    Jobs are attributed by id: the jobs that exist after an operation and
    did not before it belong to it. Unlike a job group this also counts
    jobs that the package submits from its own worker threads.
    """

    def __init__(self, spark, trace: bool):
        self.trace = trace
        self.spark = spark
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self._seen_jobs: set[int] = set()
        self._origin = time.perf_counter()
        if trace:
            self._seen_jobs = self._job_ids()

    def _job_ids(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def span(self, name: str, start: float, end: float, parent: int | None) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "parent": parent,
                "name": name,
                "start_s": start - self._origin,
                "end_s": end - self._origin,
            }
        )
        return sid

    def run(self, kind: str, name: str, fn, clock: dict | None = None):
        """Run ``fn`` as one timed operation; returns ``(op, result)``.

        An exception is caught here, counted as a failed operation and
        printed to stderr, so one bad operation does not end the run.
        """
        t0 = time.perf_counter()
        try:
            result, ok = fn(), True
        except Exception:  # the run must go on and report the failure
            traceback.print_exc()
            result, ok = None, False
        t1 = time.perf_counter()
        op = Op(kind=kind, name=name, seconds=t1 - t0, ok=ok)
        if self.trace:
            sid = self.span(f"{kind}:{name}", t0, t1, None)
            if clock:
                op.layers = dict(clock)
                self._stage_spans(clock, t0, sid)
            op.sched = self._sched_since()
        self.ops.append(op)
        return op, result

    def _stage_spans(self, clock: dict, t0: float, parent: int) -> None:
        """The package's stage clocks are consecutive intervals from the
        start of the call, so each becomes a child span in clock order."""
        at = t0
        for key, val in clock.items():
            if key.endswith("_s") and isinstance(val, (int, float)):
                self.span(key[:-2], at, at + val, parent)
                at += val

    def _sched_since(self) -> dict:
        sc = self.spark.sparkContext
        now = self._job_ids()
        new = sorted(now - self._seen_jobs)
        self._seen_jobs = now
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes"),
            0,
        )
        out["jobs"] = len(new)
        for jid in new:
            info = sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                it = store.stageData(sid, False, no_status, False, no_quantiles).iterator()
                while it.hasNext():
                    d = it.next()
                    if str(d.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += d.numCompleteTasks()
                    out["executor_run_s"] += d.executorRunTime() / 1000
                    out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += d.shuffleReadBytes()
                    out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out
