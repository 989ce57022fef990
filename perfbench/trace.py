"""Sources of the per-layer numbers: spans, a streaming listener, the
Catalyst planning tracker and the local Spark UI's REST API.

Everything stays in memory while a run measures; ``Tracer.dump`` writes
the spans out once the run has ended.
"""

from __future__ import annotations

import json
import os
import resource
import threading
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans with a name, start, end and parent, kept per thread so the
    streaming sink (which runs on a callback thread) nests correctly.
    A disabled tracer records nothing and costs one attribute check."""

    def __init__(self, armed: bool = False):
        self.armed = armed      # the run will trace: install wrappers
        self.enabled = False    # spans are being recorded now
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name,
               "parent": stack[-1]["id"] if stack else None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def total(self, name: str, since: float = 0.0) -> float:
        return sum(s["end"] - s["start"] for s in self.closed(name, since))

    def closed(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and "end" in s and s["start"] >= since]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress: the durationMs split and the
    state operators' commit time, rows and memory."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        self.batches.append({
            "batch_id": p.batchId,
            "rows_in": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows_total": sum(o.numRowsTotal for o in ops),
            "state_rows_updated": sum(o.numRowsUpdated for o in ops),
            "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def planning_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s QueryExecution. Forces the
    optimized and physical plans, so call it after the timed work."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


class SparkRest:
    """Job, stage and task figures of one time window, from the local UI
    REST API (``/api/v1/applications/<app>/{jobs,stages}``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def _get(self, what: str) -> list[dict]:
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        # the UI store is fed by the listener bus; let it catch up
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> tuple[int, int]:
        """Highest job and stage id so far: the start of a window."""
        self._drain()
        jobs = self._get("jobs")
        stages = self._get("stages")
        return (max((j["jobId"] for j in jobs), default=-1),
                max((s["stageId"] for s in stages), default=-1))

    def window(self, mark: tuple[int, int]) -> dict[str, float]:
        """Totals over jobs and stages started after ``mark``."""
        self._drain()
        jobs = [j for j in self._get("jobs") if j["jobId"] > mark[0]]
        stages = [s for s in self._get("stages") if s["stageId"] > mark[1]]
        run = [s for s in stages if s.get("status") != "SKIPPED"]

        def tot(key):
            return float(sum(s.get(key, 0) for s in run))

        return {
            "jobs": float(len(jobs)),
            "stages": float(len(run)),
            "tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
            "failed_tasks": tot("numFailedTasks"),
            "executor_run_s": tot("executorRunTime") / 1e3,
            "executor_cpu_s": tot("executorCpuTime") / 1e9,
            "gc_s": tot("jvmGcTime") / 1e3,
            "shuffle_read_bytes": tot("shuffleReadBytes"),
            "shuffle_write_bytes": tot("shuffleWriteBytes"),
            "spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
            "input_bytes": tot("inputBytes"),
            "output_bytes": tot("outputBytes"),
        }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def session_cpu_s() -> float:
    """CPU seconds (user + system) of every live process in this
    process's session: this Python, the Spark JVM, the Python workers."""
    sid, total = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[3]) == sid:
            total += int(f[11]) + int(f[12])
    return total / os.sysconf("SC_CLK_TCK")
