"""Measure the engine's layers from outside its source.

- :class:`Wrapped` replaces a public function, everywhere the package
  refers to it, with one that records a span per call.
- :class:`StatusReader` reads Spark's two status stores: the app store
  (jobs, stages) and the SQL store (per-operator metrics).
- :class:`BatchListener` collects micro-batch progress through a
  ``StreamingQueryListener``.
- :class:`RssSampler` samples the resident memory of this process and
  every descendant (the JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import threading
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from spans import Tracer


class Wrapped:
    """Route every reference to ``module.name`` inside the ``oamap_spark``
    package through a wrapper recording a ``layer`` span, until
    :meth:`restore`. References bound by ``from module import name``
    are patched too, since they hold the same function object."""

    def __init__(self, tracer: Tracer, module: str, name: str, layer: str) -> None:
        self.original = getattr(sys.modules[module], name)
        orig = self.original

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, fn=name):
                return orig(*args, **kwargs)

        self.patched: list[tuple[object, str]] = []
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("oamap_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    self.patched.append((mod, attr))

    def restore(self) -> None:
        for mod, attr in self.patched:
            setattr(mod, attr, self.original)


# --- SQL metric strings ---------------------------------------------------

_UNITS = {
    "ns": 1e-6, "us": 1e-3, "µs": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-zµ]*)")


def parse_metric(text: str) -> float:
    """The total of one SQL metric as the SQL store renders it: a plain
    count (``"12,345"``), a time (``"21 ms"``, ms) or a size (``"3.4
    MiB"``, bytes). Multi-task metrics render ``"total (min, med,
    max ...)\\n<total> (...)"``; the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class StatusReader:
    """Incremental reads of the app and SQL status stores: each call
    returns only what completed since the previous one."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()
        gw = self.sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the jobs that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def new_jobs(self) -> list[dict]:
        """Completed jobs not returned before: id, epoch start/end (s)
        and the totals of their stages."""
        self.drain()
        jobs = self.app.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self._seen_jobs or j.completionTime().isEmpty():
                continue
            self._seen_jobs.add(jid)
            sids = j.stageIds()
            totals: dict[str, float] = defaultdict(float)
            for k in range(sids.size()):
                self._add_stage(sids.apply(k), totals)
            out.append(
                {
                    "job": jid,
                    "start": j.submissionTime().get().getTime() / 1e3,
                    "end": j.completionTime().get().getTime() / 1e3,
                    **totals,
                }
            )
        return out

    def _add_stage(self, stage_id: int, totals: dict) -> None:
        attempts = self.app.stageData(
            stage_id, False, self._no_tasks, False, self._no_quantiles
        )
        for a in range(attempts.size()):
            s = attempts.apply(a)
            if str(s.status()) == "SKIPPED":
                continue
            totals["stages"] += 1
            totals["tasks"] += s.numTasks()
            totals["task_run_ms"] += s.executorRunTime()
            totals["task_cpu_ms"] += s.executorCpuTime() / 1e6
            totals["gc_ms"] += s.jvmGcTime()
            totals["shuffle_read_bytes"] += s.shuffleReadBytes()
            totals["shuffle_write_bytes"] += s.shuffleWriteBytes()
            totals["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            totals["bytes_read"] += s.inputBytes()
            totals["rows_read"] += s.inputRecords()

    def new_sql_metrics(self) -> dict[str, float]:
        """Per-operator SQL metrics of executions not read before,
        summed into the names the benchmark reports."""
        self.drain()
        out: dict[str, float] = defaultdict(float)
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid in self._seen_execs or e.completionTime().isEmpty():
                continue
            self._seen_execs.add(eid)
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                if name.startswith("WholeStageCodegen"):
                    out["plans.codegen_stages"] += 1
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = _metric_key(name, m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_metric(v.get())
        return dict(out)

    def cached_mb(self) -> float:
        """Memory plus disk held by cached RDDs and tables, in MiB."""
        rdds = self.app.rddList(True)
        total = 0
        for i in range(rdds.size()):
            r = rdds.apply(i)
            total += r.memoryUsed() + r.diskUsed()
        return total / 2**20


def _metric_key(node: str, metric: str) -> str | None:
    """Which reported name an operator metric feeds, if any."""
    if node.startswith("Scan "):
        return {
            "scan time": "sources.scan_ms",
            "metadata time": "sources.metadata_ms",
        }.get(metric)
    if node.startswith("InMemoryTableScan"):
        return "cache.inmem_scan_rows" if metric == "number of output rows" else None
    return {
        "time to run Python workers": "udf.python_run_ms",
        "time to initialize Python workers": "udf.python_init_ms",
        "data sent to Python workers": "udf.bytes_to_python",
        "data returned from Python workers": "udf.bytes_from_python",
        "number of written files": "io.files_written",
        "written output": "io.bytes_written",
    }.get(metric)


class BatchListener(StreamingQueryListener):
    """Micro-batch progress of every streaming query in the session."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        dur = p.durationMs
        with self.lock:
            self.batches.append(
                {
                    "start": start,
                    "end": start + dur.get("triggerExecution", 0) / 1e3,
                    "add_batch_ms": float(dur.get("addBatch", 0)),
                    "input_rows": float(p.numInputRows),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self.lock:
            out, self.batches = self.batches, []
        return out


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children of every process, and its resident bytes."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        pid = int(entry)
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21]) * page
    return children, rss


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children, _ = _proc_table()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    children, rss = _proc_table()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of the process tree, sampled every
    ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 2**20


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time from ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq and steal ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def busy_seconds(before: list[int], after: list[int]) -> float:
    """Machine-wide CPU seconds spent busy (neither idle nor waiting for
    I/O or the hypervisor) between two ``cpu_ticks`` readings."""
    busy = (0, 1, 2, 5, 6)  # user, nice, system, irq, softirq
    return sum(after[i] - before[i] for i in busy) / os.sysconf("SC_CLK_TCK")


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``cpu_ticks`` readings: a host-noise mark for the run's walls."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def dir_bytes(path: str) -> int:
    """Bytes of all regular files under ``path``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total
