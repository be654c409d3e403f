"""Layer probes: host readings from /proc, Spark's in-process status
store, streaming progress, and spans around the engine's public
functions.

Everything here observes the engine from outside: the spans wrap the
module attributes the engine's own code looks up, and the Spark numbers
come from the status store, which works with the UI disabled.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
import types

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


# --------------------------------------------------------------- /proc

def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None when
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live descendant of `root`."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional resident memory: pages shared with other processes
    (a forked Python worker and its daemon) are split between them, so
    a sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def python_cpu_ticks(jvm_pid: int) -> dict[int, int]:
    """CPU ticks (own plus reaped children) of each Python process under
    the JVM: the worker daemon and the workers it forked."""
    out = {}
    for pid in descendants(jvm_pid):
        fields = _stat_fields(pid)
        if fields and _is_python(pid):
            out[pid] = sum(int(x) for x in fields[11:15])
    return out


def python_cpu_s(before: dict[int, int], after: dict[int, int]) -> float:
    """Worker CPU seconds between two `python_cpu_ticks` readings. A
    process that ended in between loses its share."""
    ticks = sum(t - before.get(pid, 0) for pid, t in after.items())
    return ticks / _TICK


def cpu_stat() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return v[0] + v[1] + v[2] + v[5] + v[6] + steal, steal


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float | None:
    """Hypervisor steal as a share of busy CPU between two readings."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return round(100.0 * steal / busy, 3) if busy > 0 else None


def resident_bytes() -> int:
    """Summed resident memory (PSS) of this process and all its
    descendants: the JVM and its Python workers."""
    me = os.getpid()
    return sum(pss_bytes(p) for p in [me, *descendants(me)])


# ------------------------------------------------------ Spark status store

class SparkStatus:
    """Job and stage figures read from the SparkContext's status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def settle(self) -> None:
        """Wait until every posted event reached the status store and
        the streaming listeners."""
        self._bus.waitUntilEmpty()

    def jobs(self, first: int, stop: int) -> dict:
        """Figures for jobs with ids in [first, stop). Call `settle`
        first."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "task_run_s",
             "task_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
             "input_mb", "spill_mb", "job_time_s"), 0)
        spans, stage_ids = [], set()
        for jid in range(first, stop):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["input_mb"] += st.inputBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        out["job_time_s"] = _union_ms(spans) / 1e3
        return out


def _union_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals: AQE runs the jobs
    of one query concurrently, so their times overlap."""
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ------------------------------------------------------------- streaming

class StreamStats(StreamingQueryListener):
    """Micro-batch counts, durations and state size from streaming
    progress events. `numRowsTotal`/`memoryUsedBytes` keep the last
    reading of each stream, which is its state when the drain ends."""

    def __init__(self):
        self.batches = 0
        self.no_data_batches = 0
        self.batch_s = 0.0
        self._state: dict[str, tuple[int, int]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches += 1
        if p.numInputRows == 0:
            self.no_data_batches += 1
        self.batch_s += p.durationMs.get("triggerExecution", 0) / 1e3
        self._state[str(p.runId)] = (
            sum(op.numRowsTotal for op in p.stateOperators),
            sum(op.memoryUsedBytes for op in p.stateOperators),
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> dict:
        rows = sum(r for r, _ in self._state.values())
        mem = sum(m for _, m in self._state.values())
        return {
            "batches": self.batches,
            "no_data_batches": self.no_data_batches,
            "batch_s": self.batch_s,
            "state_rows": rows,
            "state_mb": mem / MB,
        }


# ----------------------------------------------------------------- spans

LAYERS = ("operators", "streaming", "sources", "pipelines")


class Spans:
    """Spans around every public function of the engine's `operators`,
    `streaming`, `sources` and `pipelines` modules.

    `install` replaces each such function, in every loaded engine module
    that holds a reference to it, with a wrapper that records the call's
    self time (its duration minus that of nested spans), the call count,
    and the Spark jobs submitted while it was the innermost span. The
    wrappers keep the wrapped function's module and qualified name, so
    cloudpickle still ships the original to the Python workers by
    reference. Only calls on the installing thread are recorded.
    """

    def __init__(self, package: str, next_job_id):
        self._package = package
        self._next_job_id = next_job_id
        self._patched: list[tuple[types.ModuleType, str, object]] = []
        self._stack: list[list[float]] = []
        self._thread = threading.get_ident()
        self.reset()

    def reset(self) -> None:
        self.self_s = dict.fromkeys(LAYERS, 0.0)
        self.calls = dict.fromkeys(LAYERS, 0)
        self.jobs = dict.fromkeys(LAYERS, 0)

    def _layer(self, module: str) -> str | None:
        parts = module.split(".")
        if len(parts) > 1 and parts[0] == self._package and parts[1] in LAYERS:
            return parts[1]
        return None

    def install(self) -> None:
        wrappers: dict[int, object] = {}
        for mod in [m for n, m in sys.modules.items()
                    if n == self._package or n.startswith(self._package + ".")]:
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not isinstance(fn, types.FunctionType)
                        or self._layer(fn.__module__) is None):
                    continue
                if id(fn) not in wrappers:
                    wrappers[id(fn)] = self._wrap(fn, self._layer(fn.__module__))
                self._patched.append((mod, name, fn))
                setattr(mod, name, wrappers[id(fn)])

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def span(*args, **kwargs):
            if threading.get_ident() != self._thread:
                return fn(*args, **kwargs)
            # frame: [start, first job id, child seconds, child jobs]
            frame = [time.perf_counter(), self._next_job_id(), 0.0, 0]
            self._stack.append(frame)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                dur = time.perf_counter() - frame[0]
                jobs = self._next_job_id() - frame[1]
                self.self_s[layer] += dur - frame[2]
                self.calls[layer] += 1
                self.jobs[layer] += jobs - frame[3]
                if self._stack:
                    self._stack[-1][2] += dur
                    self._stack[-1][3] += jobs

        return span
