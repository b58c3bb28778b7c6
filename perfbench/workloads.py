"""Runs one workload: session, set-up, measured phase, checks, teardown."""

from __future__ import annotations

import os
import subprocess
import time

from . import gen, ingest, queries
from .accounting import RssSampler, SparkAccounting, Tracer
from .common import Run

MODULES = {"corpus_ingest": ingest, "query_suite": queries}
CONTROL_LINEITEM_ROWS = 6_000


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def execute(args, work: str) -> dict:
    mod = MODULES[args.workload]
    with RssSampler() as rss:
        t0 = time.perf_counter()
        from b3_analytics_engine_spark.session import get_spark

        spark = get_spark(app_name="perfbench")
        session_s = time.perf_counter() - t0
        try:
            run = Run(
                spark=spark, seed=args.seed,
                trace=bool(args.trace), work=work, acct=SparkAccounting(spark),
                tracer=Tracer() if args.trace else None,
            )
            env = {
                "nproc": len(os.sched_getaffinity(0)),
                "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "spark_version": spark.version,
                "driver_memory_conf": spark.conf.get("spark.driver.memory", None),
                "driver_max_heap_mb": spark.sparkContext._jvm.java.lang.Runtime
                .getRuntime().maxMemory() / 2**20,
                "machine_mem_mb": os.sysconf("SC_PAGE_SIZE")
                * os.sysconf("SC_PHYS_PAGES") / 2**20,
            }
            if run.tracer is not None and hasattr(mod, "trace_targets"):
                for owner, attr, name in mod.trace_targets():
                    run.wrap(owner, attr, name)

            phases = {"session_s": session_s}
            t = time.perf_counter()
            state = mod.setup(run)
            phases["setup_s"] = time.perf_counter() - t
            control_dir = state.get("tables") or os.path.join(work, "control")
            if "tables" not in state:
                gen.query_tables(control_dir, CONTROL_LINEITEM_ROWS)
            control = [_control(run, control_dir, runs=2)]  # the first is cold

            phases["control_s"] = time.perf_counter() - t - phases["setup_s"]
            n_spans = len(run.tracer.spans) if run.tracer else 0
            bookkeeping_s = run.tracer.bookkeeping_s if run.tracer else 0.0
            t = time.perf_counter()
            mod.measure(run, state)
            phases["measure_s"] = time.perf_counter() - t
            if run.tracer is not None:
                # the tracer's own time (span records, job-group set and
                # restore) inside the measured phase
                run.layers["tracing.overhead_s"] = run.tracer.bookkeeping_s - bookkeeping_s
                run.layers.update(mod.layer_totals(run, state, n_spans))
            t = time.perf_counter()
            errors = mod.check(run, state)
            phases["check_s"] = time.perf_counter() - t
            control.append(_control(run, control_dir, runs=1))
            run.details["phases"] = phases

            # the engine's own set-up (session start) plus the workload's
            run.end_to_end["setup_s"] = session_s + state["setup_s"]
            run.layers.update({
                "session.start_s": session_s,
                "control.dedup_exact_start_s": control[0],
                "control.dedup_exact_end_s": control[1],
            })
            if run.tracer is not None:
                run.details.update(
                    spans=[vars(sp) for sp in run.tracer.spans],
                    self_time_s=run.span_self_times(),
                    span_counts=run.span_counts(),
                )
        finally:
            t = time.perf_counter()
            _stop_session(spark)
            run.details.setdefault("phases", {})["teardown_s"] = time.perf_counter() - t
    run.layers["peak_rss_mb"] = rss.peak
    run.details["rss_at_peak_mb"] = rss.at_peak
    return {
        "errors": errors,
        "env": env,
        "attempted": run.attempted,
        "end_to_end": run.end_to_end,
        "layers": run.layers,
        "named": {
            **run.named,
            "setup_s": (run.end_to_end["setup_s"], 1),
            "peak_rss_mb": (rss.peak, 1),
        },
        "details": run.details,
    }


def _control(run: Run, tables: str, runs: int) -> float:
    """Best of ``runs`` timings of the pinned control query, a gauge of
    machine state."""
    from b3_analytics_engine_spark.queries import registry

    fn = registry()[queries.CONTROL].fn
    best = float("inf")
    for _ in range(runs):
        t = time.perf_counter()
        fn(run.spark, tables).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t)
    queries.release_caches(run.spark)
    return best
