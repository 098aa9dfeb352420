"""Spans, Spark status-store harvest and an RSS sampler.

A span is recorded around each public call the benchmark makes into the
package: name, start, end, parent and run id. In a traced run each span
runs under ``setJobGroup(<run>/<span id>/<name>)``, so after the run the
jobs, stages and SQL executions Spark recorded in its in-process status
stores can be charged back to the span that fired them. Spans are kept
in memory and written out when the run ends.

The layer of a span is the part of its name before the first dot, named
after the package module it calls (``chains_raw.chain_day`` belongs to
``pipelines.chains_raw``). A layer's time is the self time of its spans:
a span's duration minus the part of it its child spans cover.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import threading
import time
from collections.abc import Iterator

# layers a traced run reports (package module -> metric prefix)
LAYERS = ("universe", "chains_raw", "parse", "weeklies", "warehouse", "export", "snapshots", "queries")
# status-store figures reported per layer
SPARK_FIGURES = (
    "jobs", "stages", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_only_s",
)
# SQL metrics the Python-kernel operators (mapInPandas, Arrow UDFs) carry
_PY_METRICS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to start Python workers": "py_boot_s",
}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op
    apart from yielding a scratch dict, so untraced runs pay nothing."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        """Yields the span record; callers may add counts to it."""
        rec: dict = {"name": name, **attrs}
        if not self.enabled:
            yield rec
            return
        parent = self._stack[-1] if self._stack else None
        rec.update(id=next(self._ids), parent=parent["id"] if parent else None, run=self.run_id)
        rec["phase"] = parent.get("phase", name) if parent else attrs.get("phase", name)
        sc = self.spark.sparkContext
        rec["group"] = f"{self.run_id}/{rec['id']}/{name}"
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            self.spans.append(rec)
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def boundary(self, df):
        """Materialize a layer's lazy output inside its span (traced runs
        only), so its work is charged to the layer that owns it and not to
        the consumer that first pulls it."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    # -- harvest -----------------------------------------------------------

    def harvest(self) -> None:
        """Attach Spark's recorded work to each span (``spark`` fields)."""
        if not self.enabled or not self.spans:
            return
        spark = self.spark
        jvm = spark.sparkContext._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        by_group = {s["group"]: s for s in self.spans}
        for s in self.spans:
            s["spark"] = dict.fromkeys(SPARK_FIGURES, 0)
            s["spark"].update(py_bytes_in=0, py_bytes_out=0, py_boot_s=0.0)
            s["_intervals"] = []
        store = spark.sparkContext._jsc.sc().statusStore()
        stages: dict[int, list] = {}
        defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        for st in conv.asJava(store.stageList(jvm.java.util.ArrayList(), *defaults)):
            stages.setdefault(st.stageId(), []).append(st)
        job_span: dict[int, dict] = {}
        for job in conv.asJava(store.jobsList(jvm.java.util.ArrayList())):
            grp = job.jobGroup()
            if grp.isEmpty() or grp.get() not in by_group:
                continue
            s = by_group[grp.get()]
            job_span[job.jobId()] = s
            f = s["spark"]
            f["jobs"] += 1
            if not job.submissionTime().isEmpty() and not job.completionTime().isEmpty():
                s["_intervals"].append(
                    (job.submissionTime().get().getTime() / 1e3, job.completionTime().get().getTime() / 1e3)
                )
            for sid in conv.asJava(job.stageIds()):
                for st in stages.get(sid, ()):
                    if str(st.status()) == "SKIPPED":
                        continue
                    f["stages"] += 1
                    f["executor_run_s"] += st.executorRunTime() / 1e3
                    f["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    f["gc_s"] += st.jvmGcTime() / 1e3
                    f["shuffle_read_bytes"] += st.shuffleReadBytes()
                    f["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    f["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        sql = spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql.executionsList()):
            owners = {job_span[j]["id"]: job_span[j] for j in conv.asJava(ex.jobs()).keySet() if j in job_span}
            if len(owners) != 1:
                continue
            s = next(iter(owners.values()))
            wanted = {m.accumulatorId(): _PY_METRICS[m.name()] for m in conv.asJava(ex.metrics())
                      if m.name() in _PY_METRICS}
            if not wanted:
                continue
            values = conv.asJava(sql.executionMetrics(ex.executionId()))
            for acc in values.keySet():
                if acc in wanted:
                    s["spark"][wanted[acc]] += _parse_metric(values.get(acc))
        for s in self.spans:
            s["spark"]["driver_only_s"] = max(0.0, s["dur"] - _covered(s["_intervals"], s["start"], s["end"]))
            del s["_intervals"]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {s["id"]: s["dur"] - _covered(kids.get(s["id"], []), s["start"], s["end"]) for s in self.spans}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _parse_metric(text: str) -> float:
    """Total of a formatted SQL metric (``'total (min, med, max ...)\\n
    1.2 KiB (...)'`` or a bare ``'1.2 KiB'``): bytes, or seconds."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    return value * _TIME_UNITS.get(unit, 0.0)


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM plus the
    Python workers it forks), polled from a thread of this process."""

    def __init__(self, pid: int, interval: float = 0.25) -> None:
        self.pid = pid
        self.interval = interval
        self.peak_bytes = 0
        self.peak_root_bytes = 0  # the JVM alone
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            if pid == self.pid:
                self.peak_root_bytes = max(self.peak_root_bytes, rss)
            total += rss
            todo.extend(children.get(pid, ()))
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
