#!/usr/bin/env python3
"""Feed-engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload feed_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads and metric names are declared
in BENCHMARK.json at the root; see perfbench/README.md for what each
measures. The run pins the machine for Spark (``local[nproc]``, a JVM
heap sized to RAM, the repo root on the Python workers' path), works in a
fresh directory under ``.perfbench_runs/`` and removes it afterwards, except
for a record of the run under ``.perfbench_runs/results/``.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer ones. The line before it records the environment and sample
counts of the run.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "user_feed_cdc_spark", "streaming", "cdc_pipeline.py")
WORKLOADS = ("feed_read", "cdc_ingest")


@dataclasses.dataclass
class Context:
    seed: int
    seconds: int
    trace: bool
    work: str  # scratch directory of this run
    spark: object
    tracer: object
    get_spark_s: float
    steal: object  # layers.StealMonitor: host CPU steal over any stretch of the run


def _heap_size() -> str:
    """A quarter of physical RAM, capped at 2 GiB: the inputs are small and
    the machine may be shared, and the engine's 16g default can exceed RAM."""
    try:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        total_mb = 8192
    return f"{max(512, min(2048, total_mb // 4))}m"


def pin_environment(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": _heap_size(),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    }
    os.environ.update(pinned)
    os.chdir(work)  # spark-warehouse/ and friends land in the run directory
    return {**pinned, "cwd": work}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # already closed; the process wait below still runs
                traceback.print_exc()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(ENGINE):
        print(f"perfbench: engine sources not found ({ENGINE}); run from a "
              "checkout of the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    section = "per_layer" if args.trace else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in spec[section]}

    results_dir = os.path.join(ROOT, ".perfbench_runs", "results")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results_dir, exist_ok=True)
    env = pin_environment(work)
    sys.path.insert(0, ROOT)

    spark = None
    monitor = None
    try:
        from layers import StealMonitor
        from tracing import Tracer

        workload = importlib.import_module(args.workload)
        t0 = time.perf_counter()
        from user_feed_cdc_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace))
        monitor = StealMonitor().start()
        ctx = Context(args.seed, args.seconds, bool(args.trace),
                      work, spark, tracer, get_spark_s, monitor)
        t_run = time.time()
        res = workload.run(ctx)
        monitor.stop()
        steal = round(100.0 * monitor.share(t_run, time.time()), 2)
        if args.trace:
            tracer.dump(os.path.join(results_dir, f"{tag}.spans.json"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t_stop = time.perf_counter()
        if monitor is not None:
            monitor.stop()
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    phases = {"before_spark_s": t0 - T_START, "workload_s": t_stop - t0 - get_spark_s,
              "stop_s": time.perf_counter() - t_stop}

    produced = res["per_layer"] if args.trace else res["end_to_end"]
    # per-layer metrics of a layer the workload does not touch read 0; an
    # end-to-end metric must always be measured
    missing = sorted(set(wanted) - set(produced)) if not args.trace else []
    unknown = sorted(set(produced) - set(wanted))
    if missing or unknown:
        print(f"perfbench: metrics missing {missing}, undeclared {unknown}", file=sys.stderr)
        return 1
    metrics = {
        name: {"value": float(produced.get(name, 0.0)), "unit": unit}
        for name, unit in wanted.items()
    }
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "environment": env,
            "phases": {k: round(v, 3) for k, v in phases.items()},
            "host_steal_pct": steal, **res["info"]}
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump({"info": info, "metrics": metrics, "detail": res.get("detail")}, f)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
