"""Counters read from outside the engine, with no code added to it.

- SQL metrics of executed plans, from the session's SQL status store
  (the data behind the SQL UI tab, kept with the UI disabled too).
- Job counts per operation, from the status tracker and job groups.
- Structured Streaming progress, from ``StreamingQuery.recentProgress``.
- File and byte counts of a storage tree on disk.
- Peak RSS of this process and its JVM, from ``/proc``; peak JVM heap
  use, from its memory pool beans.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

#: SQL metric display names -> short names used here
SQL_METRICS = {
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
    "shuffle bytes written": "shuffle_bytes",
    "number of files read": "files_read",
    "number of written files": "files_written",
    "written output": "bytes_written",
}
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def _parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store formats it: either a
    plain number (``1,234``) or ``total (min, med, max ...)`` over a
    line holding the total with its unit (``10.5 MiB (...)``)."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "B", 1)


class SqlMetrics:
    """Sums the SQL metrics of every execution finished since the last
    ``mark()``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._max_id()

    def _executions(self) -> list:
        seq = self._store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def _max_id(self) -> int:
        return max((e.executionId() for e in self._executions()), default=-1)

    def _drain_listener_bus(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def mark(self) -> None:
        self._drain_listener_bus()
        self._seen = self._max_id()

    def collect(self) -> Counter:
        """Totals by short name over executions since the mark."""
        self._drain_listener_bus()
        jvm = self.spark.sparkContext._jvm
        out: Counter = Counter()
        newest = self._seen
        for e in self._executions():
            eid = e.executionId()
            if eid <= self._seen:
                continue
            newest = max(newest, eid)
            names = {}
            metrics = e.metrics()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                if m.name() in SQL_METRICS:
                    names[m.accumulatorId()] = SQL_METRICS[m.name()]
            if not names:
                continue
            values = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                self._store.executionMetrics(eid)
            )
            for acc_id, short in names.items():
                text = values.get(acc_id)
                if text:
                    out[short] += _parse_metric(text)
        self._seen = newest
        return out


class JobCounter:
    """Counts Spark jobs started by one operation on this thread."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    def group(self, name: str) -> str:
        self._n += 1
        gid = f"perfbench-{name}-{self._n}"
        self.sc.setJobGroup(gid, name)
        return gid

    def jobs(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))


def progress_list(query) -> list[dict]:
    """The query's recent progress updates as dicts, one per batch that
    read input (idle-trigger heartbeats dropped)."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return sorted(out, key=lambda d: d["batchId"])


def tree_files(path: str) -> tuple[int, int]:
    """(parquet file count, total bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def descendants(pid: int) -> list[int]:
    """Process ids of every live descendant of ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak usage, in MiB, from the
    platform's memory pool beans."""
    pools = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(p.getPeakUsage().getUsed() for p in pools if p.getType().toString() == "Heap memory") / 2**20


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS of this driver process and of its JVM, in MiB."""
    me = os.getpid()
    jvm = sum(_vm_hwm_kb(p) for p in descendants(me) if _comm(p) == "java")
    return _vm_hwm_kb(me) / 1024.0, jvm / 1024.0
