"""In-memory spans, wrappers around the engine's public functions, and
readers for Spark's status stores.

Spans are recorded by the benchmark around its own calls into each layer
and, in a traced run, around engine functions it wraps from outside
(``Tracer.wrap`` rebinds a module attribute, so calls made through the
module - including the module's own internal calls by global name - go
through the span). Nothing here edits the engine.
"""

from __future__ import annotations

import functools
import os
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    """Spans with name, start, end, parent and operation id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.op: str | None = None
        self._stack: list[int] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name) -> None:
        """Replace ``module.attr`` by a spanned, counted wrapper until
        ``unwrap_all``. ``name`` is the span name, or a function of the
        call's arguments that returns it; each call counts one
        ``<name>_calls``."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            self.counts[label + "_calls"] += 1
            with self.span(label):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, original))

    def unwrap_all(self) -> None:
        while self._restore:
            module, attr, original = self._restore.pop()
            setattr(module, attr, original)

    def total(self, name: str, lo: int = 0, hi: int | None = None) -> float:
        """Summed duration of the spans called ``name`` among
        ``spans[lo:hi]``, counting a span nested in another of the same
        name once."""
        spans = self.spans[lo:hi]
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in spans:
            if s["name"] != name or s["end"] is None:
                continue
            parent = s["parent"]
            while parent is not None and by_id[parent]["name"] != name:
                parent = by_id[parent]["parent"]
            if parent is None:
                total += s["end"] - s["start"]
        return total


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


#: Layer of the spans the runner opens around each phase of an operation;
#: other spans are named ``<layer>.<function>``.
PHASE_LAYERS = {"build": "queries", "exec": "exec",
                "run_etl": "pipeline", "validation_counts": "pipeline"}


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer; operation spans count as ``bench``."""
    out: dict[str, float] = {}
    for name, t in self_times(spans).items():
        layer = name.split(".")[0] if "." in name else PHASE_LAYERS.get(name, "bench")
        out[layer] = out.get(layer, 0.0) + t
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the part of each span's
    interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        start, end = s["start"], s["end"]
        clipped = [(max(a, start), min(b, end))
                   for a, b in children.get(s["id"], []) if b > start and a < end]
        out[s["name"]] = out.get(s["name"], 0.0) + (end - start) - _covered(clipped)
    return out


def wait_for_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status stores are complete (they are updated asynchronously)."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    try:
        bus.waitUntilEmpty()
    except TypeError:  # older signature takes a timeout
        bus.waitUntilEmpty(10_000)


_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "input_records": ("inputRecords", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "tasks": ("numCompleteTasks", 1),
}


class JobStats:
    """Reads per-job and per-stage metrics of the jobs run under a job
    group from the application status store (works with the UI off)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._seen: set[int] = set()

    def new_jobs(self, group: str) -> list[int]:
        ids = [j for j in self.sc.statusTracker().getJobIdsForGroup(group)
               if j not in self._seen]
        self._seen.update(ids)
        return ids

    def collect(self, group: str) -> Counter:
        """Totals over the jobs of ``group`` not collected before. Call
        after ``wait_for_listeners``."""
        from py4j.protocol import Py4JJavaError

        out: Counter = Counter()
        for jid in self.new_jobs(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    stage = self.store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # no attempt recorded: never submitted
                    continue
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, (field, scale) in _STAGE_FIELDS.items():
                    out[key] += getattr(stage, field)() * scale
                out["spill_bytes"] += stage.memoryBytesSpilled()
        return out


def children_by_parent() -> dict[int, list[int]]:
    """Live process ids by parent process id (Linux /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    return children


def process_tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, with reaped children's) of ``pid`` and
    its live descendants."""
    children = children_by_parent()
    ticks = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


#: Name prefixes (Linux truncates thread names to 15 characters) of the
#: JVM's JIT threads: the compilers and the code-cache sweeper.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def jit_thread_ticks(pid: int) -> dict[int, int]:
    """CPU clock ticks (user + system) of each live JIT thread of process
    ``pid``, by thread id."""
    out: dict[int, int] = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                name, rest = f.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue  # the thread ended while we looked
        if name.startswith(JIT_THREADS):
            out[int(tid)] = sum(int(x) for x in rest.split()[11:13])  # utime stime
    return out


def jit_cpu_s(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the JIT threads spent between two ``jit_thread_ticks``
    readings. The JVM starts and retires compiler threads as its queue
    grows and drains; a thread retired in between is left out, which
    loses only the little it compiled before going idle."""
    ticks = sum(t - before.get(tid, 0) for tid, t in after.items())
    return ticks / os.sysconf("SC_CLK_TCK")


def process_tree_hwm_mb(pid: int) -> float:
    """Summed peak resident set size (VmHWM) of ``pid`` and its live
    descendants, in MiB."""
    children = children_by_parent()
    total_kb = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class StreamStats:
    """Streaming progress, from a StreamingQueryListener."""

    def __init__(self) -> None:
        self.batch_s: list[float] = []
        self.state_rows: dict[str, int] = {}

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                stats.batch_s.append(p.durationMs.get("triggerExecution", 0) / 1e3)
                stats.state_rows[str(p.id)] = sum(
                    op.numRowsTotal for op in p.stateOperators)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
