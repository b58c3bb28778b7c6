"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a human-readable summary line,
then as the last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A failed correctness check
exits 1 without printing a result; a checkout without the engine exits
2. Results are also written under ``perfbench/results/``, keyed by
nproc, seed and Spark version. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0] = ROOT


def parse_args(argv=None):
    from perfbench.workloads import MODULES

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_scratch(work: str) -> None:
    """Point every temp directory this process, the JVM and the Python
    workers use at the run's work directory inside the checkout. The
    engine's own defaults are otherwise untouched; the memory override
    ``SPARK_GRAFT_DRIVER_MEM`` is removed so the engine's default stays
    visible."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file under /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate_scratch(work)
        try:
            import b3_analytics_engine_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: engine package not found under {ROOT}: {e}", file=sys.stderr)
            return 2
        from perfbench import workloads

        result = workloads.execute(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    if result["errors"]:
        for err in result["errors"]:
            print(f"perfbench: correctness check failed: {err}", file=sys.stderr)
        return 1

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
        **result["env"],
        "end_to_end": result["end_to_end"],
        "per_layer": result["layers"],
        "named": result["named"],
        "detail": result["details"],
    }
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = (
        f"{args.workload}_nproc{result['env']['nproc']}_spark{result['env']['spark_version']}"
        f"_seed{args.seed}_trace{args.trace}_{os.getpid()}.json"
    )
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = result["layers"] if args.trace else result["end_to_end"]
    summary = " ".join(
        f"{k}={v[0]:.4g} (n={v[1]})" for k, v in sorted(result["named"].items())
    )
    print(f"perfbench {args.workload} seed={args.seed}: {summary}")
    print(
        json.dumps(
            {
                "correct": True,
                "attempted": result["attempted"],
                "failed": 0,  # an operation that raises ends the run
                "metrics": {
                    m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
