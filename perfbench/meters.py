"""Meters for the traced run: spans, py4j round trips, Spark status-store
deltas, a streaming-progress listener, fork counts and peak memory.

Everything here observes the program from outside.  Spans wrap the
benchmark's own calls into each layer; counts come from Spark's status
store (read off the clock, after the call) rather than job groups,
because micro-batch jobs run on a stream's own thread and carry no
group tag.  Nothing is installed in an untraced run except the memory
reading, which happens once at exit.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0


class Py4jCounter:
    """Counts py4j commands sent from Python to the JVM.

    Wraps ``send_command`` on both py4j connection classes while
    installed; ``uninstall`` restores the originals."""

    def __init__(self):
        self.calls = 0
        self._lock = threading.Lock()
        self._saved = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            original = cls.send_command
            self._saved.append((cls, original))

            def counted(conn, command, _original=original):
                with self._lock:
                    self.calls += 1
                return _original(conn, command)

            cls.send_command = counted

    def uninstall(self) -> None:
        for cls, original in self._saved:
            cls.send_command = original
        self._saved.clear()


class StatusStore:
    """Stage and job deltas from the SparkContext's status store.

    ``since()`` sums the stages and jobs created since the previous call
    (or since construction).  It first drains the listener bus so the
    store reflects every finished task."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self.stage_mark = self._newest_stage_id()
        self.job_mark = self._newest_job_id()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self):  # newest first
        jvm = self._jvm
        return self._store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self._gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )

    def _newest_stage_id(self) -> int:
        self._drain()
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def _newest_job_id(self) -> int:
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def since(self) -> dict:
        """Counts for the stages and jobs created since the previous call."""
        self._drain()
        out = dict(jobs=0, stages=0, tasks=0, failed_tasks=0, executor_run_s=0.0,
                   shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        stages = self._stages()
        newest = self.stage_mark
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self.stage_mark:
                break
            newest = max(newest, sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        self.stage_mark = newest
        newest_job = self._newest_job_id()
        out["jobs"] = max(0, newest_job - self.job_mark)
        self.job_mark = newest_job
        return out


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's duration breakdown and state size."""

    def __init__(self):
        self.batches = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        row = dict(
            query=str(p.id),
            input_rows=int(p.numInputRows or 0),
            durations={k: float(v) for k, v in (p.durationMs or {}).items()},
            state_rows=sum(int(o.numRowsTotal) for o in ops),
            state_bytes=sum(int(o.memoryUsedBytes) for o in ops),
            state_commit_ms=sum(float(o.commitTimeMs) for o in ops),
        )
        with self._lock:
            self.batches.append(row)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches = self.batches, []
        return out


def forks() -> int:
    """Processes created on this host since boot (``processes`` in /proc/stat)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of this Python process and of its JVM."""
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return py_mb, int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


class Tracer:
    """Spans kept in memory and written out as JSON at exit.

    A span records its name, parent, start and end (seconds from the
    tracer's origin) and a dict of counts.  ``enabled=False`` makes
    every span a no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._origin = time.perf_counter()
        self.py4j = Py4jCounter()
        self.status: StatusStore | None = None
        self.listener: ProgressListener | None = None

    def attach(self, spark) -> None:
        """Bind the Spark-side meters to a (new) session."""
        if not self.enabled:
            return
        if not self.py4j._saved:
            self.py4j.install()
        self.status = StatusStore(spark)
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.py4j.uninstall()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = dict(id=len(self.spans), parent=self._stack[-1] if self._stack else None,
                   name=name, start=time.perf_counter() - self._origin, end=None,
                   counts={})
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter() - self._origin
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def median(values) -> float:
    """Median, or 0.0 for no samples (a metric the workload does not load)."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


TAIL_PERCENTILES = (99.9, 99.0, 90.0, 75.0)


def tail(values) -> tuple[float, float, int]:
    """Highest of TAIL_PERCENTILES with at least ten samples beyond it.

    Returns ``(percentile, value, sample_count)``; the median when no
    percentile qualifies."""
    vals = sorted(values)
    n = len(vals)
    if not n:
        return 50.0, 0.0, 0
    pct = next((p for p in TAIL_PERCENTILES if n * (100.0 - p) / 100.0 >= 10), 50.0)
    return pct, float(vals[min(n - 1, round(pct / 100.0 * (n - 1)))]), n
