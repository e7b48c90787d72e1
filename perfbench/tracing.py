"""Measurement plumbing that reads the program from outside.

- ``TreeRss``: peak resident memory of this process and every process it
  started (the Spark driver JVM and its Python workers), read from /proc,
  with and without the JVM's heap.
- ``Spans``: named spans kept in memory and written out at exit, with
  each span's self time (its duration minus the time its child spans
  cover).
- ``SparkCounters``: job, stage and task counts of one job group from
  the status store; SQL metrics from the executed plan of an action, or
  from the SQL status store for every query of a job group; JVM
  garbage-collection and compiler time from the MXBeans.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
# a process this young is left out of a memory sample: a child between
# vfork and exec shows its parent's whole address space as its own RSS
MIN_AGE_S = 0.5


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, float]]:
    """{pid: (ppid, start time in seconds since boot)}."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = stat.rsplit(")", 1)[1].split()
        out[int(name)] = (int(fields[1]), int(fields[19]) / _TICK)
    return out


def descendants(pid: int, table: dict[int, tuple[int, float]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, (ppid, _start) in table.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _uptime() -> float:
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0])


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _range_rss(pid: int, lo: int, hi: int) -> int:
    """Resident bytes of the mappings of pid that lie inside [lo, hi)."""
    total, inside = 0, False
    try:
        with open(f"/proc/{pid}/smaps") as fh:
            for line in fh:
                if line[0] in "0123456789abcdef":  # a mapping's header line
                    start, end = line.split(" ", 1)[0].split("-")
                    inside = int(start, 16) >= lo and int(end, 16) <= hi
                elif inside and line.startswith("Rss:"):
                    total += int(line.split()[1]) * 1024
    except OSError:
        return 0
    return total


_HEAP_LINE = re.compile(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB")


def heap_log_option(path: str) -> str:
    """The JVM option that makes it write its heap's address range to path."""
    return f"-Xlog:gc+heap+coops=debug:file={path}"


class TreeRss:
    """Samples the summed RSS of a process and its descendants on a
    background thread. ``peak`` is the largest sum seen. ``peak_off_heap``
    is the largest sum less the resident part of the JVM heap, whose
    address range the JVM writes to ``heap_log`` (see heap_log_option):
    how much of its heap G1 has touched depends on when it collects, not
    on how much the program keeps live, so the heap is counted apart
    (jvm_heap_peak). Every pid seen is remembered so the caller can wait
    for all of them to end."""

    def __init__(self, pid: int, heap_log: str, interval: float = 0.5):
        self.pid = pid
        self.heap_log = heap_log
        self.interval = interval
        self.heap: tuple[int, int] | None = None
        self.peak = 0
        self.peak_off_heap = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _heap_range(self) -> tuple[int, int] | None:
        if self.heap is None:
            try:
                with open(self.heap_log) as fh:
                    m = _HEAP_LINE.search(fh.read())
            except OSError:
                m = None
            if m:
                lo = int(m.group(1), 16)
                self.heap = (lo, lo + int(m.group(2)) * 1024 * 1024)
        return self.heap

    def sample(self) -> None:
        table = _proc_table()
        kids = descendants(self.pid, table)
        self.seen.update(kids)
        now = _uptime()
        pids = [self.pid] + [p for p in kids if now - table[p][1] >= MIN_AGE_S]
        total = sum(_rss(p) for p in pids)
        heap = self._heap_range()
        in_heap = sum(_range_rss(p, *heap) for p in pids if _comm(p) == "java") if heap else 0
        self.peak = max(self.peak, total)
        self.peak_off_heap = max(self.peak_off_heap, total - in_heap)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def jvm_heap_peak(spark) -> dict[str, int]:
    """{heap memory pool: peak bytes used since JVM start}, from the
    MemoryPool MXBeans."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {p.getName(): p.getPeakUsage().getUsed() for p in mx.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Spans:
    """In-memory spans: (id, name, op, parent, start, end)."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Records a span around the block; yields its row, whose "end"
        is set when the block exits."""
        row = {"id": len(self.rows), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.rows.append(row)
        self._stack.append(row["id"])
        try:
            yield row
        finally:
            row["end"] = time.perf_counter()
            self._stack.pop()

    def with_self_time(self) -> list[dict]:
        """Each span with its duration and self time. Children of one
        span run one after another, so their durations add up."""
        child_s: dict[int, float] = {}
        for r in self.rows:
            if r["parent"] is not None and r["end"] is not None:
                child_s[r["parent"]] = child_s.get(r["parent"], 0.0) + r["end"] - r["start"]
        out = []
        for r in self.rows:
            dur = (r["end"] or r["start"]) - r["start"]
            out.append({**r, "dur_s": dur, "self_s": dur - child_s.get(r["id"], 0.0)})
        return out

    def rollup(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds."""
        out: dict[str, dict] = {}
        for r in self.with_self_time():
            agg = out.setdefault(r["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            agg["n"] += 1
            agg["total_s"] += r["dur_s"]
            agg["self_s"] += r["self_s"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.with_self_time(), "rollup": self.rollup()}, fh, indent=1)


# ---------------------------------------------------------------------------
# Spark and JVM counters
# ---------------------------------------------------------------------------

class SparkCounters:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self._mx = self.jvm.java.lang.management.ManagementFactory

    # -- JVM ---------------------------------------------------------------
    def jvm_times(self) -> tuple[float, float]:
        """(gc seconds, JIT compile seconds) since JVM start."""
        gc = sum(b.getCollectionTime() for b in self._mx.getGarbageCollectorMXBeans())
        jit = self._mx.getCompilationMXBean().getTotalCompilationTime()
        return gc / 1000.0, jit / 1000.0

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    # -- jobs, stages, tasks of one job group --------------------------------
    def group_totals(self, group: str) -> dict:
        """Sums over the stages that ran (not skipped) in a job group."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tot = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_write": 0,
               "output_bytes": 0}
        seen = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                if s in seen:
                    continue
                seen.add(s)
                sd = store.lastStageAttempt(s)
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["shuffle_write"] += sd.shuffleWriteBytes()
                tot["output_bytes"] += sd.outputBytes()
        return tot

    # -- SQL metrics of every query a job group ran ---------------------------
    def group_sql_metrics(self, group: str, nodes: tuple[str, ...]) -> dict[tuple[str, str], float]:
        """{(node name, metric display name): total} over every SQL
        execution that ran a job of the group, read from the SQL status
        store; for ops that run many queries inside the package, whose
        plans the caller never holds. Only plan nodes whose name holds
        one of ``nodes`` are read. Values come as display strings
        ("1.5 s", "2.0 MiB", "4,000"), parsed to ms, bytes or counts."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
        store = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[tuple[str, str], float] = {}
        for ex in self._conv.asJava(store.executionsList()):
            if not jobs & {int(j) for j in self._conv.asJava(ex.jobs()).keySet()}:
                continue
            eid = ex.executionId()
            raw = self._conv.asJava(store.executionMetrics(eid))
            values = {int(k): raw[k] for k in raw.keySet()}
            for node in self._conv.asJava(store.planGraph(eid).allNodes()):
                name = node.name()
                if not any(n in name for n in nodes):
                    continue
                for m in self._conv.asJava(node.metrics()):
                    v = values.get(int(m.accumulatorId()))
                    if v is not None:
                        key = (name, m.name())
                        out[key] = out.get(key, 0.0) + parse_metric(v)
        return out

    # -- SQL metrics of an executed plan -------------------------------------
    def plan_metrics(self, df) -> list[tuple[str, dict]]:
        """(node name, {metric: value}) for every node of the executed
        plan of ``df``'s last action, walking the final adaptive plan and
        the plan inside every query stage."""
        out = []

        def walk(p):
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                return walk(p.finalPhysicalPlan())
            if cls.endswith("QueryStageExec"):
                return walk(p.plan())
            ms = self._conv.asJava(p.metrics())
            out.append((p.nodeName(), {k: ms[k].value() for k in ms.keySet()}))
            for c in self._conv.asJava(p.children()):
                walk(c)

        walk(df._jdf.queryExecution().executedPlan())
        return out


def sum_metric(nodes: list[tuple[str, dict]], prefix: str, metric: str) -> float:
    return float(sum(m.get(metric, 0) for name, m in nodes if name.startswith(prefix)))


_UNITS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3, "B": 1.0, "KiB": 2.0 ** 10,
          "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40}


def parse_metric(text: str) -> float:
    """A status-store metric string to a number: the total on the last
    line ("total (min, med, max ...)\n1.5 s (...)" or "4,000")."""
    head = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS.get(head[1], 1.0) if len(head) > 1 else value
