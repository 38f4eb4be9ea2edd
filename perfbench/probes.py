"""Load-independent counters read from outside the engine.

- the process tree (this driver, the Spark JVM it launched, the Python
  workers under the JVM) from ``/proc``: CPU seconds;
- the JVM through py4j: JIT compilation time, GC time and count, and
  Spark's whole-stage codegen compile count;
- Spark's status stores (work with the UI disabled): per-job tags and
  per-stage executor CPU, shuffle and spill from ``AppStatusStore``, and
  the SQL metrics of the Python plan nodes from ``SQLAppStatusStore``.

Every reader here is a driver-local lookup; none starts a Spark job.
"""

from __future__ import annotations

import os
import re
import time

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def proc_cpu_s(pid: int) -> float:
    """CPU of one process including its reaped children, in seconds.
    Summed over a live tree this stays consistent when a worker exits:
    its time moves into the parent's reaped-children fields."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
    return sum(int(x) for x in f[11:15]) / _CLK


def proc_self_cpu_s(pid: int | None) -> float:
    """CPU of one process alone (utime + stime), in seconds."""
    f = _stat_fields(pid) if pid is not None else None
    if f is None:
        return 0.0
    return (int(f[11]) + int(f[12])) / _CLK


def tree_cpu_s(root: int) -> float:
    return sum(proc_cpu_s(p) for p in tree_pids(root))


def jvm_pid(root: int) -> int | None:
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
    return None


class Jvm:
    """Cumulative JVM counters; callers take differences."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        mf = self._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = mf.getGarbageCollectorMXBeans()

    def snapshot(self) -> dict:
        gcs = [self._gcs.get(i) for i in range(self._gcs.size())]
        codegen = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return {
            "jit_cpu_s": self._comp.getTotalCompilationTime() / 1000.0,
            "gc_s": sum(max(0, g.getCollectionTime()) for g in gcs) / 1000.0,
            "gc_count": sum(max(0, g.getCollectionCount()) for g in gcs),
            "codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        }


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


# SQL metric values come back formatted ("12.5 MiB", "1.2 s", "3,456"),
# as the status store keeps them
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# plan-node SQL metric name -> benchmark key
ARROW_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "number of output rows": "rows_from_python",
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
}
ARROW_NODES = ("MapInArrow", "FlatMapCoGroupsInPandas")


def parse_sql_metric(text: str) -> float:
    """The total of a formatted SQL metric: the value on the line after a
    'total (min, med, max ...)' header, or the whole text for a sum."""
    lines = text.strip().splitlines()
    m = _TOTAL.match(lines[-1] if len(lines) > 1 else lines[0])
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


class StatusStore:
    """Reads finished jobs, stages and SQL executions. ``harvest`` returns
    everything that finished after the previous call, so the caller can
    read after each crawl, before Spark's retention limits evict it."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._seq = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # skip everything before the first measured crawl (nothing runs
        # between crawls), without reading its stages and plans
        self._seen_jobs = {j.jobId() for j in self._seq(self._app.jobsList(None))}
        self._seen_execs = {
            e.executionId() for e in self._seq(self._sql.executionsList())
        }

    def harvest(self) -> dict:
        jobs = []
        for j in self._seq(self._app.jobsList(None)):
            jid = j.jobId()
            if jid in self._seen_jobs or j.status().toString() == "RUNNING":
                continue
            self._seen_jobs.add(jid)
            stages = []
            for sid in self._seq(j.stageIds()):
                try:
                    s = self._app.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if s.status().toString() != "COMPLETE":
                    continue
                stages.append(
                    {
                        "tasks": s.numCompleteTasks(),
                        "executor_cpu_s": s.executorCpuTime() / 1e9,
                        "shuffle_read_bytes": s.shuffleReadBytes(),
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                        "spill_bytes": s.memoryBytesSpilled()
                        + s.diskBytesSpilled(),
                    }
                )
            jobs.append({"id": jid, "tags": list(self._seq(j.jobTags())),
                         "stages": stages})
        arrow = []
        for e in self._seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid in self._seen_execs or e.completionTime().isEmpty():
                continue
            self._seen_execs.add(eid)
            values = self._sql.executionMetrics(eid)
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                if node.name() not in ARROW_NODES:
                    continue
                row = {"node": node.name()}
                for m in self._seq(node.metrics()):
                    key = ARROW_METRICS.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        row[key] = parse_sql_metric(v.get())
                arrow.append(row)
        return {"jobs": jobs, "arrow": arrow}


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> bool:
    """Wait until none of ``pids`` is alive (zombies count as gone)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = [p for p in pids if (_stat_fields(p) or ["Z"])[0] != "Z"]
        if not alive:
            return True
        time.sleep(0.1)
    return False
