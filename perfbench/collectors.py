"""Outside-in collectors for the traced run.

Everything here reads public counters from outside the engine: the JVM's
management beans and Spark's codegen metrics over py4j, Spark's status
tracker, the executed physical plan, a streaming query listener, and the
``/proc`` entries of the JVM and its Python worker processes. Nothing here
sets a Spark or JVM option.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc: CPU and I/O of the JVM and its Python children
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (Python daemon and workers of the JVM)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _cpu_s(pid: int, with_children: bool) -> float:
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields after the name start at stat field 3: utime=14, stime=15,
    # cutime=16, cstime=17 (1-based) -> indices 11..14 here
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _CLK_TCK


def _io_chars(pid: int) -> tuple[int, int]:
    rchar = wchar = 0
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                key, _, value = line.partition(":")
                if key == "rchar":
                    rchar = int(value)
                elif key == "wchar":
                    wchar = int(value)
    except OSError:
        pass
    return rchar, wchar


def proc_snapshot(jvm_pid: int) -> dict[str, float]:
    """CPU seconds and I/O character counts of the JVM and its children.

    A worker that exits is reaped by the Python daemon, so its CPU moves into
    the daemon's cutime/cstime; summing utime+stime+cutime+cstime over the
    live descendants keeps it counted.
    """
    kids = descendants(jvm_pid)
    rchar, wchar = _io_chars(jvm_pid)
    for pid in kids:
        r, w = _io_chars(pid)
        rchar += r
        wchar += w
    return {
        "jvm.cpu_s": _cpu_s(jvm_pid, with_children=False),
        "workers.cpu_s": sum(_cpu_s(pid, with_children=True) for pid in kids),
        "io.read_mb": rchar / 1e6,
        "io.write_mb": wchar / 1e6,
    }


# ---------------------------------------------------------------------------
# JVM management beans and Spark's CodegenMetrics
# ---------------------------------------------------------------------------


class JvmProbe:
    """Reads cumulative JIT, GC, heap and Janino-compile counters over py4j."""

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        ]
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def reset_heap_peak(self) -> None:
        for pool in self._heap_pools:
            pool.resetPeakUsage()

    def snapshot(self) -> dict[str, float]:
        hist = self._codegen.METRIC_COMPILATION_TIME()
        return {
            "jvm.jit_s": self._jit.getTotalCompilationTime() / 1e3,
            "jvm.gc_s": sum(gc.getCollectionTime() for gc in self._gcs) / 1e3,
            "codegen.compiles": float(hist.getCount()),
            # the histogram keeps a decaying sample, not a sum: the compile
            # time of a pass is estimated as compiles x the sample's mean (ms)
            "codegen.mean_ms": hist.getSnapshot().getMean(),
        }

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20


# ---------------------------------------------------------------------------
# Executed-plan walk (exchanges, shuffle and spill bytes, Python-node rows)
# ---------------------------------------------------------------------------

_PYTHON_NODES = ("Python", "InPandas", "InArrow")


def _node_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def walk_plan(node, out: list | None = None) -> list[tuple[str, dict]]:
    """(node name, metrics) for every operator of the final adaptive plan,
    descending through AdaptiveSparkPlan and materialised query stages."""
    out = out if out is not None else []
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return walk_plan(node.executedPlan(), out)
    out.append((name, _node_metrics(node)))
    n_children = node.children().size()
    if n_children == 0 and name.endswith("QueryStage"):
        return walk_plan(node.plan(), out)
    for i in range(n_children):
        walk_plan(node.children().apply(i), out)
    return out


def plan_counters(df) -> dict[str, float]:
    shuffle = spill = exchanges = python_rows = 0
    for name, ms in walk_plan(df._jdf.queryExecution().executedPlan()):
        spill += sum(v for k, v in ms.items() if "spill" in k.lower())
        if name == "Exchange":
            exchanges += 1
            shuffle += ms.get("dataSize", 0)
        if any(tag in name for tag in _PYTHON_NODES):
            python_rows += ms.get("pythonNumRowsReceived", ms.get("numOutputRows", 0))
    return {
        "shuffle.bytes": float(shuffle),
        "spill.bytes": float(spill),
        "exec.exchanges": float(exchanges),
        "python.rows": float(python_rows),
    }


# ---------------------------------------------------------------------------
# Spark jobs and tasks per job group
# ---------------------------------------------------------------------------


class JobCounter:
    """Counts the jobs and tasks Spark ran under a job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._bus = self._sc._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until every queued listener event (status store, streaming
        listener) has been delivered."""
        self._bus.waitUntilEmpty()

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        jobs = self._tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = self._tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks


# ---------------------------------------------------------------------------
# Streaming trigger breakdown
# ---------------------------------------------------------------------------


def make_trigger_listener():
    """A StreamingQueryListener that keeps every progress event's durationMs."""
    from pyspark.sql.streaming import StreamingQueryListener

    class TriggerListener(StreamingQueryListener):
        def __init__(self):
            self.durations: list[dict[str, int]] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.durations.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> list[dict[str, int]]:
            with self._lock:
                out, self.durations = self.durations, []
            return out

    return TriggerListener()


def trigger_counters(durations: list[dict[str, int]]) -> dict[str, float]:
    def total(key: str) -> float:
        return sum(d.get(key, 0) for d in durations) / 1e3

    return {
        "streaming.triggers": float(len(durations)),
        "streaming.add_batch_s": total("addBatch"),
        "streaming.overhead_s": total("triggerExecution") - total("addBatch"),
        "streaming.wal_commit_s": total("walCommit"),
        "streaming.commit_offsets_s": total("commitOffsets"),
        "streaming.query_planning_s": total("queryPlanning"),
    }
