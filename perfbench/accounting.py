"""Spark's own accounting, read from the benchmark side, plus the span
recorder.

Three sources:

- the JVM status store (jobs, stages and their task metrics), read per
  job group that the benchmark sets before calling into the engine;
- the SQL status store (per-execution plan graph and metric values),
  for the Python-worker metrics of Arrow/pandas operators;
- ``StreamingQueryProgress`` durations, read by ``ingest.py``.

Everything here works with ``spark.ui.enabled=false``, which is the
engine's session default.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = {
    # v1.StageData getter -> metric suffix
    "executorRunTime": "executor_run_s",
    "executorCpuTime": "executor_cpu_s",
    "jvmGcTime": "gc_s",
    "inputBytes": "scan_bytes",
    "inputRecords": "scan_rows",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}
# unit conversions to seconds for the time getters
_TO_S = {"executorRunTime": 1e-3, "executorCpuTime": 1e-9, "jvmGcTime": 1e-3}
# the keys of SparkAccounting.totals
TOTAL_KEYS = ("jobs", "stages", "stage_covered_s", *dict.fromkeys(STAGE_FIELDS.values()))


class SparkAccounting:
    """Reads jobs, stages and SQL metrics for a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, group: str) -> list:
        from py4j.protocol import Py4JJavaError

        out = []
        for jid in self.job_ids(group):
            try:
                out.append(self._store.job(jid))
            except Py4JJavaError:  # evicted from the retained window
                continue
        return out

    def stage_ids(self, jobs) -> list[int]:
        ids = set()
        for j in jobs:
            seq = j.stageIds()
            for i in range(seq.size()):
                ids.add(int(seq.apply(i)))
        return sorted(ids)

    def _stage_attempts(self, sid: int) -> list:
        seq = self._store.stageData(
            sid, False, self._jvm.java.util.ArrayList(), False,
            self.sc._gateway.new_array(self._jvm.double, 0),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def totals(self, group: str) -> dict[str, float]:
        """Job/stage counts, task-metric sums and the wall time its
        stages cover, for every job of ``group`` so far."""
        jobs = self.jobs(group)
        stages = self.stage_ids(jobs)
        t = dict.fromkeys(TOTAL_KEYS, 0.0)
        t["jobs"] = float(len(jobs))
        intervals = []
        for sid in stages:
            for sd in self._stage_attempts(sid):
                if str(sd.status()) == "SKIPPED":
                    continue
                t["stages"] += 1
                for getter, key in STAGE_FIELDS.items():
                    t[key] += float(getattr(sd, getter)()) * _TO_S.get(getter, 1)
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
        t["stage_covered_s"] = union_length(intervals)
        return t

    def python_worker_s(self, group: str) -> dict[str, float]:
        """Task-summed Python-worker timings of every SQL execution whose
        jobs belong to ``group``, keyed ``start``, ``init`` and ``run``.

        Pinned with a two-task ``mapInPandas`` whose UDF sleeps 0.5 s per
        task (4 cores, Spark 4.1): on freshly started workers each task
        read start 1.7 s, init 0.45 s and run 3.0 s, so "run" then
        contains start and init; on the next query the workers were
        reused and each task read start 0, init 0.7 s and run 0.77 s, so
        "run" no longer contains init. The three are therefore reported
        separately and never added: "run" is the boundary's execution
        time, "start" counts only fresh worker forks, "init" the
        per-task import and UDF unpickling that reuse does not remove."""
        want = set(self.job_ids(group))
        out = {"start": 0.0, "init": 0.0, "run": 0.0}
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet().toSeq()
            if not {int(jobs.apply(k)) for k in range(jobs.size())} & want:
                continue
            ms = ex.metrics()
            accs = {}
            for k in range(ms.size()):
                m = ms.apply(k)
                key = PYTHON_METRICS.get(m.name())
                if key:
                    accs[int(m.accumulatorId())] = key
            if not accs:
                continue
            vals = self._sql.executionMetrics(ex.executionId())
            for acc, key in accs.items():
                v = vals.get(acc)
                if v.isDefined():
                    out[key] += parse_metric_seconds(str(v.get()))
        return out


PYTHON_METRICS = {
    "time to start Python workers": "start",
    "time to initialize Python workers": "init",
    "time to run Python workers": "run",
}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}


def parse_metric_seconds(text: str) -> float:
    """SQL timing metric text -> seconds. Values read either ``"1.2 s"``
    or ``"total (min, med, max (stageId: taskId))\\n1.2 s (...)"``;
    the total is the first number after the header."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([0-9][0-9,.]*)\s*([a-z]+)?", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S.get(m.group(2) or "ms", 1e-3)


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""


@dataclass
class Tracer:
    """In-memory span recorder. A span's parent is the innermost open
    span of the same thread; spans are written out at exit."""

    spans: list = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(),
                     parent=stack[-1].sid if stack else None)
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-name self time: a span's duration minus the part of its
    interval that its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, [])]
        )
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


# ---------------------------------------------------------------- memory


def tree_rss_mb(root_pid: int | None = None) -> dict[str, float]:
    """Resident set size in MB of a process and all its descendants
    (this Python process, the JVM, the Python workers), from /proc, by program
    name, with the sum under ``total``."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            parts = tail.split()
            ppid, pages = int(parts[1]), int(parts[21])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
        info[int(d)] = (head.split("(", 1)[1], pages)
    page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
    out: dict[str, float] = {"total": 0.0}
    stack = [root_pid]
    while stack:
        p = stack.pop()
        name, pages = info.get(p, ("", 0))
        if p == root_pid:
            name = "benchmark"
        out[name] = out.get(name, 0.0) + pages * page_mb
        out["total"] += pages * page_mb
        stack.extend(children.get(p, []))
    return out


class RssSampler:
    """Background sampler of the process tree's peak RSS; ``at_peak``
    is the per-program split of the peak sample."""

    def __init__(self, period_s: float = 0.25):
        self.peak = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._period = period_s
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        rss = tree_rss_mb()
        if rss["total"] > self.peak:
            self.peak, self.at_peak = rss["total"], rss

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(5)
        self._sample()
