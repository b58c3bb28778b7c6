"""State shared by the workloads of one benchmark run."""

from __future__ import annotations

import datetime as dt
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from .accounting import TOTAL_KEYS, SparkAccounting, Tracer, self_times


def percentile_tail(values: list[float]) -> tuple[float, float, int]:
    """(median, tail, n): the tail is the highest percentile with at
    least ten samples beyond it; below 21 samples that percentile would
    not exceed the median, and the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    mid = v[(n - 1) // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2
    tail = v[n - 11] if n >= 21 else v[-1]
    return mid, tail, n


def progress_end_s(p) -> float:
    """Wall-clock end of the trigger a ``StreamingQueryProgress`` reports."""
    start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
    return start.timestamp() + p.durationMs["triggerExecution"] / 1e3


@dataclass
class Run:
    spark: object
    seed: int
    trace: bool
    work: str
    acct: SparkAccounting
    tracer: Tracer | None = None
    attempted: int = 0
    # end-to-end and per-layer metrics by their BENCHMARK.json names
    end_to_end: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    # everything else the results file records
    details: dict = field(default_factory=dict)
    # the workload's metrics under descriptive names: (value, samples)
    named: dict = field(default_factory=dict)

    @contextmanager
    def op(self, name: str):
        """A traced span around a call into the engine, with its own
        Spark job group; a no-op when tracing is off."""
        if self.tracer is None:
            yield
            return
        t = time.perf_counter()
        with self.tracer.span(name) as s:
            s.group = f"{name}#{s.sid}"
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(s.group, name, False)
            self.tracer.bookkeeping_s += time.perf_counter() - t
            try:
                yield s
            finally:
                t = time.perf_counter()
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev, prev, True)
        self.tracer.bookkeeping_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced version (traced run only)."""
        fn = getattr(owner, attr)
        run = self

        def traced(*a, **k):
            with run.op(name):
                return fn(*a, **k)

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)

    def spark_totals(self, groups: list[str], wall_s: float, per: float) -> dict:
        """The per-layer ``spark.*`` metrics of one operation: totals of
        ``groups`` divided by ``per`` operations; dispatch is the wall
        time the stages do not cover."""
        t = dict.fromkeys(TOTAL_KEYS, 0.0)
        py = {"init": 0.0, "run": 0.0}
        for g in groups:
            for k, v in self.acct.totals(g).items():
                t[k] += v
            for k, v in self.acct.python_worker_s(g).items():
                if k in py:
                    py[k] += v
        out = {f"spark.{k}": t[k] / per for k in t if k != "stage_covered_s"}
        out["spark.dispatch_s"] = (wall_s - t["stage_covered_s"]) / per
        out["spark.python_worker_s"] = py["run"] / per
        out["spark.python_worker_init_s"] = py["init"] / per
        return out

    def span_groups(self, since: int = 0) -> list[str]:
        return [s.group for s in self.tracer.spans[since:] if s.group]

    def span_self_times(self) -> dict[str, float]:
        return self_times(self.tracer.spans) if self.tracer else {}

    def span_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.tracer.spans:
            out[s.name] = out.get(s.name, 0) + 1
        return out

    def await_batch(self, q, batch_id: int, timeout_s: float):
        """Block until the query reports progress for ``batch_id``."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            for p in reversed(q.recentProgress):
                if p.batchId == batch_id and p.numInputRows > 0:
                    return p
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            time.sleep(0.05)
        raise TimeoutError(f"batch {batch_id} not committed in {timeout_s}s")


def median(values: list[float]) -> float:
    return percentile_tail(values)[0] if values else math.nan
