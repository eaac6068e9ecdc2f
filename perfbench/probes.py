"""Outside-in probes: host drift, process-tree memory, and Spark's own
status stores.

Nothing here reaches into ``sedona_db_spark``. Spark-side numbers come from
the application status store (stages, exact integers) and the SQL status
store (per-plan-node metrics, as Spark formats them), both of which are
populated with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import re
import threading
import time
from typing import Dict, Iterable, List, Optional

from py4j.protocol import Py4JJavaError

# ---------------------------------------------------------------------------
# host drift
# ---------------------------------------------------------------------------


def calibrate_ms(rounds: int = 7) -> float:
    """Median wall time of a fixed single-thread pure-Python loop. It does
    the same work on every host state, so its drift is the host's drift."""
    samples = []
    for _ in range(rounds):
        t = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc += i * i % 7
        samples.append((time.perf_counter() - t) * 1e3)
    samples.sort()
    return samples[len(samples) // 2]


def cpu_jiffies() -> List[int]:
    """Aggregate counters of the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_pct(before: List[int], after: List[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return 100.0 * delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---------------------------------------------------------------------------
# memory of the whole process tree (driver Python + JVM + Python workers)
# ---------------------------------------------------------------------------

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def descendants(root: int) -> List[int]:
    """``root`` and every live process below it, from /proc."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an unreaped zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_mb(root: int) -> Dict[str, float]:
    """RSS in MB of ``root`` ("driver"), the JVM ("jvm") and every other
    process below it ("workers": the Python daemon and workers)."""
    mb = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE_KB / 1024.0
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        kind = "driver" if pid == root else "jvm" if comm == "java" else "workers"
        mb[kind] += rss
    return mb


class RssSampler:
    """Samples the RSS of this process tree on a background thread.
    ``peak_mb`` is the largest total seen (the peak of the sum, so
    short-lived workers count only while they coexist); ``peak_by_kind``
    holds each kind's own peak."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_by_kind: Dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            mb = tree_rss_mb(root)
            self.peak_mb = max(self.peak_mb, sum(mb.values()))
            for k, v in mb.items():
                self.peak_by_kind[k] = max(self.peak_by_kind.get(k, 0.0), v)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)")


def parse_metric(text: Optional[str]) -> float:
    """Spark's formatted SQL metric -> float (bytes, seconds or a count).

    Formats: ``'50,821'``, ``'1024.5 KiB'``, ``'2.4 s'``, or a task
    breakdown ``'total (min, med, max ...)\\n4.3 s (...)'`` whose first
    figure on the second line is the total."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _NUM_UNIT.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


class SparkStatus:
    """Reads finished jobs, stages and SQL plan-node metrics."""

    _JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                   "BroadcastNestedLoopJoin", "CartesianProduct")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def execution_count(self) -> int:
        return int(self.sql.executionsCount())

    def jobs_of(self, group: str) -> List[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: Iterable[int]) -> Dict[str, float]:
        t = {"cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "failed": 0, "shuffle_bytes": 0}
        tracker = self.sc.statusTracker()
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                t["cpu_s"] += sd.executorCpuTime() / 1e9
                t["run_s"] += sd.executorRunTime() / 1e3
                t["gc_s"] += sd.jvmGcTime() / 1e3
                t["failed"] += sd.numFailedTasks()
                t["shuffle_bytes"] += sd.shuffleWriteBytes()
        return t

    def executions_since(self, start: int):
        """(job ids, plan nodes) of each SQL execution with id >= start.

        A node is ``(name, {metric name: formatted value})``."""
        out = []
        n = self.execution_count() - start
        if n <= 0:
            return out
        lst = self.sql.executionsList(start, n)
        for i in range(lst.size()):
            e = lst.apply(i)
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = []
            graph_nodes = self.sql.planGraph(eid).allNodes()
            for k in range(graph_nodes.size()):
                nd = graph_nodes.apply(k)
                ms = nd.metrics()
                m = {}
                for q in range(ms.size()):
                    sm = ms.apply(q)
                    v = values.get(sm.accumulatorId())
                    m[sm.name()] = v.get() if v.isDefined() else None
                nodes.append((nd.name(), m))
            jobs = [int(j) for j in _scala_keys(e.jobs())]
            out.append((jobs, nodes))
        return out

    @classmethod
    def node_totals(cls, nodes) -> Dict[str, float]:
        """Sums over plan nodes of the metrics the per-layer report uses."""
        t = {"python_run_s": 0.0, "python_init_s": 0.0, "python_sent": 0.0,
             "python_returned": 0.0, "join_rows": 0.0, "bcast_bytes": 0.0,
             "bcast_collect_s": 0.0, "files_read": 0.0, "bytes_read": 0.0, "scan_rows": 0.0}
        for name, m in nodes:
            if "time to run Python workers" in m:
                t["python_run_s"] += parse_metric(m.get("time to run Python workers"))
                t["python_init_s"] += parse_metric(m.get("time to start Python workers"))
                t["python_init_s"] += parse_metric(m.get("time to initialize Python workers"))
                t["python_sent"] += parse_metric(m.get("data sent to Python workers"))
                t["python_returned"] += parse_metric(m.get("data returned from Python workers"))
            elif name in cls._JOIN_NODES:
                t["join_rows"] += parse_metric(m.get("number of output rows"))
            elif name == "BroadcastExchange":
                t["bcast_bytes"] += parse_metric(m.get("data size"))
                t["bcast_collect_s"] += parse_metric(m.get("time to collect"))
            elif name.startswith("Scan parquet"):
                t["files_read"] += parse_metric(m.get("number of files read"))
                t["bytes_read"] += parse_metric(m.get("size of files read"))
                t["scan_rows"] += parse_metric(m.get("number of output rows"))
        return t


def _scala_keys(scala_map) -> List:
    it = scala_map.keysIterator()
    keys = []
    while it.hasNext():
        keys.append(it.next())
    return keys
