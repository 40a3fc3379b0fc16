"""Measurement helpers for the rollup benchmark: spans, the Spark status
store, process RSS and bytes on disk.

Nothing here changes what the program does; every reading is taken from
outside it (wall clocks around public calls, /proc, the filesystem, and
Spark's in-process status store, which keeps per-stage and per-plan-node
metrics even with the web UI disabled).
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, run);
    spans of one measured operation share a run id. Nothing is written
    until the caller dumps ``spans`` at the end of the benchmark."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


# ---------------------------------------------------------------- /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # comm may hold spaces; ppid is the 2nd field after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root_pid: int) -> list[int]:
    """`root_pid` and every process below it."""
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of `root_pid` and all its descendants, as the sum of
    their proportional set sizes: the Python workers are forked from one
    daemon and share most pages, which a plain RSS sum counts once per
    worker."""
    total = 0
    for pid in descendants(root_pid):
        try:
            total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background thread sampling the resident memory (PSS, see
    tree_rss_bytes) of the driver JVM plus its Python workers (the JVM's
    descendants) every `interval` seconds; `peak` holds the maximum."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))


# ----------------------------------------------------------- filesystem


def file_states(*roots: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every file under `roots`."""
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                p = os.path.join(dirpath, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two `file_states`."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def tree_bytes(*paths: str) -> int:
    return sum(sz for sz, _ in file_states(*paths).values())


# -------------------------------------------------------- status store

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('1.5 MiB', '2,757', or the
    'total (min, med, max ...)\\n10.3 s (...)' form) in bytes, seconds or
    units."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return val * _SIZE.get(unit, _TIME.get(unit, 1.0))


class StatusStore:
    """Reads what Spark recorded for the jobs of one job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, jobs) -> list:
        seen, out = set(), []
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.app.lastStageAttempt(sid)
                if sd.status().toString() == "COMPLETE":
                    out.append(sd)
        return out

    def task_durations(self, sd) -> list[float]:
        tl = self.app.taskList(sd.stageId(), sd.attemptId(), 100000)
        out = []
        for i in range(tl.size()):
            d = tl.apply(i).duration()
            if d.isDefined():
                out.append(float(d.get()))
        return out

    def node_metrics(self, jobs) -> list[tuple[str, str, float]]:
        """(node name, metric name, parsed total) for every plan node of
        every SQL execution that ran any of `jobs`."""
        jobs = set(jobs)
        out = []
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keys().iterator()
            ids = set()
            while it.hasNext():
                ids.add(int(it.next()))
            if not ids & jobs:
                continue
            vals = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                n = nodes.apply(k)
                ms = n.metrics()
                for z in range(ms.size()):
                    m = ms.apply(z)
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        out.append((n.name().strip(), m.name(), parse_metric(v.get())))
        return out

    def summarize(self, group: str, wall_s: float, cores: int) -> dict:
        """Engine-level counters of one measured operation."""
        # the status store is fed asynchronously: let it catch up first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.group_jobs(group)
        stages = self.stages(jobs)
        nodes = self.node_metrics(jobs)

        def node_sum(node_prefix, metric):
            return sum(v for n, m, v in nodes if n.startswith(node_prefix) and m == metric)

        skews = []
        for sd in stages:
            if sd.shuffleReadBytes() > 0:
                d = self.task_durations(sd)
                if d and statistics.median(d) > 0:
                    skews.append(max(d) / statistics.median(d))
        cpu_s = sum(sd.executorCpuTime() for sd in stages) / 1e9
        return {
            "jobs.spark_jobs": len(jobs),
            "sources.bytes_read": node_sum("Scan", "size of files read"),
            "scan_rows": node_sum("Scan", "number of output rows"),
            "kernel.python_bytes_in": node_sum("MapInPandas", "data sent to Python workers"),
            "kernel.python_bytes_out": node_sum("MapInPandas", "data returned from Python workers"),
            "kernel.python_s": node_sum("MapInPandas", "time to run Python workers"),
            "kernel.windows_out": node_sum("MapInPandas", "number of output rows"),
            "exchange.shuffle_bytes": sum(sd.shuffleWriteBytes() for sd in stages),
            "exchange.spill_bytes": sum(sd.diskBytesSpilled() for sd in stages),
            "exchange.task_skew": max(skews) if skews else 1.0,
            "jvm.gc_s": sum(sd.jvmGcTime() for sd in stages) / 1e3,
            "exec.cpu_util": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
        }
