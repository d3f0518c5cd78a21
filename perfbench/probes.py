"""Measurement sources outside the program: /proc samplers, a py4j call
counter, the executed AQE plan's SQL metrics, Spark's Python UDF profiler
and in-memory spans.

Spark SQL metrics are task time summed across tasks (busy time, not wall
time); sizes are reported in MB (10^6 bytes).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

MB = 1e6


# --------------------------------------------------------------- /proc probes

def host_cpu() -> tuple[int, int, int]:
    """``(total, steal, idle + iowait)`` jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    total = user + nice + system + idle + iowait + irq + softirq + steal
    return total, steal, idle + iowait


def host_share(before: tuple, after: tuple) -> tuple[float, float]:
    """``(steal %, unclaimed idle %)`` of host CPU time between two probes."""
    total = max(after[0] - before[0], 1)
    return 100.0 * (after[1] - before[1]) / total, 100.0 * (after[2] - before[2]) / total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of a process tree (the driver JVM and its Python
    workers), sampled every ``interval`` seconds while started."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root, self.interval = root_pid, interval
        self.seen: set[int] = set()
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        pids = process_tree(self.root)
        rss = rss_bytes(pids)
        with self._lock:
            self.seen.update(pids)
            self._peak = max(self._peak, rss)

    def take_peak(self) -> int:
        """Peak since the previous call (one last sample included)."""
        self.sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None


# ------------------------------------------------------------- py4j counter

class Py4jCounter:
    """Counts py4j round trips by wrapping the client's ``send_command``."""

    def __init__(self):
        self.calls = 0

    def install(self) -> None:
        # PySpark's default (pinned-thread) gateway talks through ClientServer
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command

        def counted(conn, command, *a, **kw):
            self.calls += 1
            return orig(conn, command, *a, **kw)

        ClientServerConnection.send_command = counted
        self._orig = orig

    def uninstall(self) -> None:
        from py4j.clientserver import ClientServerConnection

        ClientServerConnection.send_command = self._orig


# ----------------------------------------------------- executed-plan metrics

def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _children_of(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    kids, it = [], node.children().iterator()
    while it.hasNext():
        kids.append(it.next())
    return kids


def plan_nodes(jplan) -> list[dict]:
    """Flatten the final physical plan, descending into every query stage:
    ``[{name, metrics, parent, grouping, mode}]`` in pre-order."""
    out: list[dict] = []

    def walk(node, parent: int | None) -> None:
        rec = {"name": node.nodeName(), "metrics": _metrics(node), "parent": parent,
               "grouping": "", "mode": ""}
        if rec["name"] == "HashAggregate":
            rec["grouping"] = node.groupingExpressions().mkString(",")
            aggs = node.aggregateExpressions()
            if aggs.nonEmpty():
                rec["mode"] = aggs.head().mode().toString()
        out.append(rec)
        me = len(out) - 1
        for k in _children_of(node):
            walk(k, me)

    walk(jplan, None)
    return out


def _stage_one(nodes: list[dict]) -> tuple[set[int], set[int]]:
    """Nodes on each scan's path up to its first Exchange, and the nearest
    WholeStageCodegen on each such path (the pipeline that runs the scan)."""
    chain, pipelines = set(), set()
    for i, n in enumerate(nodes):
        if not n["name"].startswith("Scan"):
            continue
        found_wscg = False
        p = n["parent"]
        while p is not None and nodes[p]["name"] != "Exchange":
            chain.add(p)
            if not found_wscg and nodes[p]["name"].startswith("WholeStageCodegen"):
                pipelines.add(p)
                found_wscg = True
            p = nodes[p]["parent"]
    return chain, pipelines


def _consumer(nodes: list[dict], i: int) -> str:
    """Name of the operator that consumes node ``i``'s output, looking
    through code-generation wrappers and projections."""
    p = nodes[i]["parent"]
    while p is not None and (nodes[p]["name"].startswith("WholeStageCodegen")
                             or nodes[p]["name"] in ("InputAdapter", "Project")):
        p = nodes[p]["parent"]
    return nodes[p]["name"] if p is not None else ""


# the bucket-key grouping column: ``_k`` (cells engine) or ``k`` (sqlpath)
_CELL_KEY = re.compile(r"(^|,)_?k#\d+")


def plan_layers(nodes: list[dict]) -> dict[str, float]:
    """Per-layer SQL metrics of one executed query (see README.md for the
    operator each name comes from)."""
    m = {k: 0.0 for k in LAYER_PLAN_METRICS}
    chain, pipelines = _stage_one(nodes)
    for i, n in enumerate(nodes):
        name, mt = n["name"], n["metrics"]
        if name.startswith("Scan"):
            m["scan.rows"] += mt.get("numOutputRows", 0)
            m["scan.time_ms"] += mt.get("scanTime", 0)
            m["scan.mb"] += mt.get("filesSize", 0) / MB
        elif i in pipelines:
            m["stage1.pipeline_ms"] += mt.get("pipelineTime", 0)
        elif name == "HashAggregate":
            if n["mode"] == "Partial" and _CELL_KEY.search(n["grouping"]):
                m["cells.partial_agg_ms"] += mt.get("aggTime", 0)
                m["cells.rows"] += mt.get("numOutputRows", 0)
                m["cells.peak_mem_mb"] += mt.get("peakMemory", 0) / MB
                m["cells.spill_mb"] += mt.get("spillSize", 0) / MB
            else:
                m["finalize.agg_ms"] += mt.get("aggTime", 0)
                m["finalize.spill_mb"] += mt.get("spillSize", 0) / MB
        elif name == "Exchange":
            m["exchange.count"] += 1
            m["exchange.records"] += mt.get("shuffleRecordsWritten", 0)
            m["exchange.mb"] += mt.get("shuffleBytesWritten", 0) / MB
        elif name == "Sort" and _consumer(nodes, i) == "Window":
            m["finalize.sort_ms"] += mt.get("sortTime", 0)
            m["finalize.spill_mb"] += mt.get("spillSize", 0) / MB
        elif name == "Window":
            m["finalize.spill_mb"] += mt.get("spillSize", 0) / MB
        elif name in ("MapInPandas", "FlatMapGroupsInPandas"):
            t = mt.get("pythonTotalTime", 0)
            if name == "FlatMapGroupsInPandas":
                m["python.merge_partials_ms"] += t
            elif i in chain:
                m["python.build_partials_ms"] += t
            else:
                m["python.finalize_ms"] += t
            m["python.init_ms"] += mt.get("pythonInitTime", 0) + mt.get("pythonBootTime", 0)
            m["python.mb_sent"] += mt.get("pythonDataSent", 0) / MB
            m["python.mb_received"] += mt.get("pythonDataReceived", 0) / MB
            m["python.rows_received"] += mt.get("pythonNumRowsReceived", 0)
    return m


LAYER_PLAN_METRICS = {
    "scan.rows": "count", "scan.time_ms": "ms", "scan.mb": "MB", "stage1.pipeline_ms": "ms",
    "cells.partial_agg_ms": "ms", "cells.rows": "count", "cells.peak_mem_mb": "MB",
    "cells.spill_mb": "MB",
    "exchange.count": "count", "exchange.records": "count", "exchange.mb": "MB",
    "finalize.sort_ms": "ms", "finalize.spill_mb": "MB", "finalize.agg_ms": "ms",
    "python.build_partials_ms": "ms", "python.merge_partials_ms": "ms", "python.finalize_ms": "ms",
    "python.init_ms": "ms", "python.mb_sent": "MB", "python.mb_received": "MB",
    "python.rows_received": "count",
}


# ------------------------------------------------------------ UDF profiler

# the profiler strips directories from file names, so match file and function
PROFILED = {
    "sketch.from_values_ms": ("sketch.py", "from_values"),
    "sketch.merge_all_ms": ("sketch.py", "merge_all"),
    "sketch.quantile_ms": ("sketch.py", "quantile"),
    "store.merge_many_ms": ("store.py", "merge_many"),
    "store.bins_from_keys_ms": ("store.py", "bins_from_keys"),
    "mapping.key_vec_ms": ("mapping.py", "key_vec"),
}


def profiled_ms(spark) -> dict[str, float]:
    """Cumulative time (ms, summed over Python workers) of each profiled
    ddspark function, from ``spark.sql.pyspark.udf.profiler=perf``."""
    out = {k: 0.0 for k in PROFILED}
    for stats in spark._profiler_collector._perf_profile_results.values():
        for (path, _line, func), (_cc, _nc, _tt, cum, _callers) in stats.stats.items():
            for name, (file, fn) in PROFILED.items():
                if func == fn and os.path.basename(path) == file:
                    out[name] += cum * 1000.0
    return out


# ------------------------------------------------------------------- spans

class Spans:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.items: list[dict] = []

    def add(self, op: int, name: str, start: float, end: float, parent: str | None = None,
            **attrs) -> None:
        self.items.append({"op": op, "name": name, "parent": parent,
                           "start_s": start - self.t0, "end_s": end - self.t0, **attrs})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.items, f)
