"""Measurement from outside the program.

- ``ProcTree``: CPU seconds, page faults and resident memory (PSS) of this
  process and all its descendants (driver JVM, Python workers), read from
  ``/proc``.
- ``host_snapshot``: load, runnable count and CPU steal, stored beside
  every iteration so contention on a shared host shows in the artifacts.
- ``JvmHeap``: peak old-generation use of the driver JVM, read through
  its ``MemoryPoolMXBean``s.
- ``Tracer``: spans around the benchmark's calls into the program. Each
  span runs under its own Spark job group; afterwards its jobs, stages,
  tasks and SQL metrics are read back from Spark's status stores.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds, page faults), both incl. reaped children."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue  # exited between listdir and open
        fields = raw[raw.rindex(b")") + 2:].split()
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK,
                          sum(int(x) for x in fields[7:11]))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional resident memory: pages shared between processes (a
    freshly forked Python worker and its daemon) are split, not counted
    once per sharer as plain RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcTree:
    """Process-tree CPU and a background peak-RSS sampler."""

    def __init__(self, root: int | None = None, period_s: float = 0.25):
        self.root = root or os.getpid()
        self._period = period_s
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> dict[int, tuple[int, float, int]]:
        """pid -> /proc row for the root and all its descendants."""
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, row in table.items():
            kids.setdefault(row[0], []).append(pid)
        todo, rows = [self.root], {}
        while todo:
            pid = todo.pop()
            if pid in table:
                rows[pid] = table[pid]
            todo.extend(kids.get(pid, ()))
        return rows

    def cpu_s(self) -> float:
        return sum(r[1] for r in self._tree().values())

    def faults(self) -> int:
        """Minor + major page faults."""
        return sum(r[2] for r in self._tree().values())

    def rss_bytes(self) -> int:
        return sum(_pss_bytes(pid) for pid in self._tree())

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            rss = self.rss_bytes()
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def reset_peak(self) -> None:
        rss = self.rss_bytes()
        with self._lock:
            self._peak = rss

    def peak_bytes(self) -> int:
        rss = self.rss_bytes()
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_snapshot() -> dict:
    """steal_s is the host's cumulative CPU steal over all CPUs: time
    other guests of the machine took from this one."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / _TICK
    with open("/proc/loadavg") as f:
        load1, load5, _, running, _ = f.read().split()
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":")
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(val.split()[0]) // 1024
    return {
        "t": round(time.time(), 3), "load1": float(load1), "load5": float(load5),
        "runnable": int(running.split("/")[0]), "steal_s": steal,
        "mem_total_mb": mem.get("MemTotal"), "mem_avail_mb": mem.get("MemAvailable"),
    }


class JvmHeap:
    """Peak use of the driver JVM's old generation (the heap data that
    outlives young collections: cached blocks, broadcasts, retained
    results), reset before each iteration."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._pools = [p for p in mf.getMemoryPoolMXBeans()
                       if p.getType().name() == "HEAP"
                       and ("Old" in p.getName() or "Tenured" in p.getName())]

    def reset_peak(self) -> None:
        for p in self._pools:
            p.resetPeakUsage()

    def old_gen_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._pools) / 2 ** 20


_SIZE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|PiB|EiB)\b")
_UNIT = {"B": 0, "KiB": 1, "MiB": 2, "GiB": 3, "TiB": 4, "PiB": 5, "EiB": 6}
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"


def _size_total(text: str) -> float:
    """Bytes from a SQL size metric string. Multi-task values read
    'total (min, med, max ...)\\n<total> (<min>, ...)'; the total is the
    first size after the newline."""
    m = _SIZE.search(text.split("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * 1024 ** _UNIT[m.group(2)]


class Tracer:
    """Nested spans, each with its own Spark job group. A job belongs to
    the innermost open span. Metrics are read after the traced iteration
    ends so the reads never fall inside a span."""

    def __init__(self, spark, tree: ProcTree):
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: list[dict] = []
        self._open: list[dict] = []
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_seen = -1

    @contextmanager
    def span(self, name: str, iteration: int):
        """Record a span under the innermost open one (or the iteration);
        on exit the enclosing span's job group applies again."""
        parent = self._open[-1] if self._open else None
        group = f"perfbench:{iteration}:{name}"
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "iteration": iteration,
               "parent": parent["name"] if parent else "iteration",
               "group": group, "start": time.time(), "cpu0": self.tree.cpu_s()}
        self._open.append(rec)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()
            rec["cpu_s"] = self.tree.cpu_s() - rec.pop("cpu0")
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def _seq(self, scala_seq) -> list:
        return list(self._conv.asJava(scala_seq))

    def _sql_bytes(self) -> dict[int, tuple[float, float]]:
        """job id -> (python bytes in, out) of the SQL execution that ran it."""
        by_job = {}
        for ex in self._seq(self._sql.executionsList()):
            eid = ex.executionId()
            if eid <= self._exec_seen:
                continue
            self._exec_seen = max(self._exec_seen, eid)
            names = {m.accumulatorId(): m.name() for m in self._seq(ex.metrics())}
            vals = dict(self._conv.asJava(self._sql.executionMetrics(eid)))
            b_in = sum(_size_total(v) for k, v in vals.items() if names.get(k) == PY_IN)
            b_out = sum(_size_total(v) for k, v in vals.items() if names.get(k) == PY_OUT)
            jobs = [int(j) for j in self._conv.asJava(ex.jobs().keySet())]
            if jobs:   # attribute the execution's bytes once, to its first job
                by_job[min(jobs)] = (b_in, b_out)
        return by_job

    def spark_metrics(self, spans: list[dict]) -> None:
        """Fill each span with its Spark job/stage/task/SQL numbers."""
        tracker = self.sc.statusTracker()
        sql_by_job = self._sql_bytes()
        for rec in spans:
            jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
            stages, tasks = set(), []
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages.update(info.stageIds if info else ())
            per_stage = []
            for s in sorted(stages):
                si = tracker.getStageInfo(s)
                if si is None or si.numCompletedTasks == 0:
                    continue   # skipped: its shuffle output was reused
                ts = [self._task(t) for t in self._seq(
                    self._store.taskList(s, si.currentAttemptId, 100_000))]
                per_stage.append(ts)
                tasks.extend(ts)
            busiest = max(per_stage, key=lambda ts: sum(t["dur"] for t in ts),
                          default=[])
            durs = sorted(t["dur"] for t in busiest)
            skew = (durs[-1] / max(1e-3, durs[len(durs) // 2])) if durs else 0.0
            py = [sql_by_job.get(j, (0.0, 0.0)) for j in jobs]
            rec["spark"] = {
                "jobs": len(jobs), "stages": len(per_stage), "tasks": len(tasks),
                "task_skew": skew,
                "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
                "fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3,
                "spill_bytes": sum(t["spill"] for t in tasks),
                "write_bytes": sum(t["out_bytes"] for t in tasks),
                "py_bytes_in": sum(p[0] for p in py),
                "py_bytes_out": sum(p[1] for p in py),
            }

    @staticmethod
    def _task(t) -> dict:
        dur = t.duration()
        m = t.taskMetrics()
        row = {"dur": dur.get() if dur.isDefined() else 0,
               "shuffle_write": 0, "fetch_wait_ms": 0, "spill": 0, "out_bytes": 0}
        if m.isDefined():
            m = m.get()
            row.update(
                shuffle_write=m.shuffleWriteMetrics().bytesWritten(),
                fetch_wait_ms=m.shuffleReadMetrics().fetchWaitTime(),
                spill=m.diskBytesSpilled(),
                out_bytes=m.outputMetrics().bytesWritten(),
            )
        return row
