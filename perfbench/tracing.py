"""Tracing for the benchmark: spans, Spark's own metrics and peak RSS.

Nothing here instruments the program. Spans are recorded around calls
the benchmark makes into the program's public functions; Spark metrics
are read back from Spark's status stores after each action.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

MIB = float(1 << 20)


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written once, at exit. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)
        self._stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx] = {
                "id": idx, "name": name, "start": start,
                "end": time.perf_counter(), "parent": parent, "run": self.run_id,
            }

    @contextmanager
    def around(self, module, attr: str, name: str):
        """Record a span around every call of ``module.attr`` while active."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def durations(self, name: str, within: int | None = None) -> list:
        """Durations of spans called ``name`` (below span ``within``)."""
        out = []
        for s in self.spans:
            if s is None or s["name"] != name:
                continue
            if within is not None and not self._descends(s, within):
                continue
            out.append(s["end"] - s["start"])
        return out

    def _descends(self, s: dict, ancestor: int) -> bool:
        while s["parent"] is not None:
            if s["parent"] == ancestor:
                return True
            s = self.spans[s["parent"]]
        return False

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s for s in self.spans if s is not None], fh)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


# ------------------------------------------------------------ Spark metrics

_UNITS = {
    None: 1.0, "B": 1.0, "KiB": 1024.0, "MiB": MIB, "GiB": MIB * 1024, "TiB": MIB * MIB,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

# SQL metric display name -> key, summed over every node
PLAN_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "arrow_sent_b",
    "data returned from Python workers": "arrow_recv_b",
    "shuffle bytes written": "shuffle_write_b",
    "shuffle records written": "shuffle_records",
}


def parse_metric(text: str) -> float:
    """A SQL UI metric string -> seconds, bytes or a count. Aggregated
    metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    m = _VALUE.match(text.split("\n")[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkProbe:
    """Reads plan metrics of finished SQL executions (the AQE final plan
    the SQL status store keeps) and task times of finished stages."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()

    def execution_ids(self) -> set:
        ex = self.sql_store.executionsList()
        return {ex.apply(i).executionId() for i in range(ex.size())}

    def plan_metrics(self, exec_ids) -> dict:
        out = {k: 0.0 for k in PLAN_METRICS.values()}
        out.update(scan_s=0.0, scan_b=0.0, generate_rows=0.0)
        for eid in sorted(exec_ids):
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                node_name = node.name()
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    name = m.name()
                    if name in PLAN_METRICS:
                        out[PLAN_METRICS[name]] += parse_metric(v.get())
                    elif node_name.startswith("Scan") and name == "scan time":
                        out["scan_s"] += parse_metric(v.get())
                    elif node_name.startswith("Scan") and name == "size of files read":
                        out["scan_b"] += parse_metric(v.get())
                    elif node_name == "Generate" and name == "number of output rows":
                        out["generate_rows"] += parse_metric(v.get())
        return out

    def stage_ids(self, job_group: str) -> list:
        tracker = self.sc.statusTracker()
        ids = set()
        for jid in tracker.getJobIdsForGroup(job_group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def stage_tasks(self, job_group: str) -> dict:
        """For the job group's stages: the task skew (max over median task
        time) of the stage with the longest wall span, and the number of
        tasks that read input files (scan partitions)."""
        longest, skew, scan_tasks = -1.0, 0.0, 0
        for sid in self.stage_ids(job_group):
            tasks = self.app_store.taskList(sid, 0, 1 << 30)
            spans, durs = [], []
            for i in range(tasks.size()):
                t = tasks.apply(i)
                if not t.duration().isDefined():
                    continue
                start = t.launchTime().getTime()
                d = float(t.duration().get())
                spans.append((start, start + d))
                durs.append(d)
                tm = t.taskMetrics()
                if tm.isDefined() and tm.get().inputMetrics().bytesRead() > 0:
                    scan_tasks += 1
            if not durs:
                continue
            wall = max(e for _, e in spans) - min(s for s, _ in spans)
            if wall > longest:
                med = statistics.median(durs)
                longest, skew = wall, (max(durs) / med if med > 0 else 1.0)
        return {"task_skew": skew, "scan_partitions": float(scan_tasks)}


# --------------------------------------------------------------- peak RSS


def _children_map() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss(root: int) -> dict:
    """Resident memory of every descendant of ``root`` (not ``root``
    itself): the driver JVM and its Python workers, as {pid: bytes}.
    Proportional set size, so pages forked workers share with their
    parent (and a JVM child between fork and exec) count once."""
    kids = _children_map()
    out, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            out[pid] = _pss_bytes(pid)
        except OSError:
            continue
    return out


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` is the largest
    sum seen since the last ``reset``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_parts = []
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.wait(self.interval):
            parts = tree_rss(root)
            rss = sum(parts.values())
            with self._lock:
                if rss > self.peak:
                    self.peak = rss
                    self.peak_parts = sorted((v >> 20 for v in parts.values()), reverse=True)

    def start(self):
        self._thread.start()

    def reset(self):
        with self._lock:
            self.peak = 0

    def stop(self):
        self._stop.set()
        self._thread.join()
