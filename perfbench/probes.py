"""Measurements taken from outside the engine: the process tree in
/proc, Spark's status tracker, the JVM's MXBeans and a streaming
query listener."""

from __future__ import annotations

import os
import signal
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_HZ = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _HZ


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _HZ


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    return _tree(os.getpid())[1:]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_all(pids: list[int], timeout_s: float = 15.0) -> None:
    """Wait for ``pids`` (the JVM and its Python workers) to exit after
    the session stopped; kill any still running at the deadline."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in filter(_alive, pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the live process tree under ``root``,
    including reaped children (so exited workers still count)."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _HZ


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM over the live process tree under ``root``."""
    kb = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class JobCensus:
    """Jobs, stages and tasks run since the previous ``take()``.

    Spark numbers jobs densely from 0, so a cursor over
    ``statusTracker().getJobInfo`` sees every job, whichever thread or
    job group (stream micro-batches run in their own) started it."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._next = 0
        self.take()

    def take(self, settle_s: float = 0.2) -> dict[str, int]:
        time.sleep(settle_s)  # the status listener lags the action
        jobs = stages = tasks = 0
        while (info := self._tracker.getJobInfo(self._next)) is not None:
            self._next += 1
            jobs += 1
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """Cumulative GC and JIT-compile time of the driver JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset", "triggerExecution")


class StreamPhases(StreamingQueryListener):
    """Per-batch progress of every stream, summed; read after the clock
    stops through ``take()``."""

    def __init__(self):
        self._lock = threading.Lock()
        self._reset()

    def _reset(self):
        self.started = self.terminated = self.batches = self.input_rows = 0
        self.phase_ms = dict.fromkeys(STREAM_PHASES, 0)
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event):  # noqa: N802 - listener API
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        with self._lock:
            self.batches += 1
            self.input_rows += p.numInputRows
            for k in STREAM_PHASES:
                self.phase_ms[k] += p.durationMs.get(k, 0)
            # final state size per query: the last batch's row total
            self.state_rows[str(p.runId)] = sum(
                s.numRowsTotal for s in p.stateOperators
            )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        with self._lock:
            self.terminated += 1

    def take(self, timeout_s: float = 5.0) -> dict[str, float]:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.02)
        with self._lock:
            out = {"batches": self.batches, "input_rows": self.input_rows,
                   "state_rows": sum(self.state_rows.values())}
            out.update({f"{k}_s": v / 1000.0 for k, v in self.phase_ms.items()})
            self._reset()
        return out
