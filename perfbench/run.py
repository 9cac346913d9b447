"""Wire-to-mirror CDC benchmark against a throwaway PostgreSQL 15.

    python3 perfbench/run.py --workload catchup_insert --seed 1 --seconds 10 --trace 0

Run from the repository root. Boots a private server, drives one
workload through the CDC path (replication socket -> pgoutput decode ->
segment log -> pq_cdc_wal micro-batches -> mirror merge), checks that
the mirror equals the source, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. A JSON line with
the run's noise context (steal, load, CPUs, server settings) precedes
it. Exits non-zero when the program is missing or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")


def _declared(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    return {m["name"]: m["unit"] for m in doc["per_layer" if trace else "end_to_end"]}


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _configure_env() -> None:
    """Spark runs local[$SPARK_GRAFT_CPUS] (default: every CPU); its
    Python workers import the package from the checkout."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Wire-to-mirror CDC benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "go_pq_cdc_spark", "engine.py")):
        print("go_pq_cdc_spark not found: run from the repository root", file=sys.stderr)
        return 2
    declared = _declared(args.trace)
    _configure_env()

    import pgserver
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(RUN_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # SIGTERM unwinds like an exception, so the server and the JVM stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    steal0, wall0 = _steal_jiffies(), time.time()
    tracer = Tracer(run_dir) if args.trace else None
    try:
        with pgserver.PgServer(run_dir) as pg:
            wl = WORKLOADS[args.workload](pg, run_dir, args.seed, args.seconds, tracer)
            if tracer:
                tracer.install()
            try:
                wl.run()
            finally:
                if tracer:
                    tracer.restore()
    except Exception:  # noqa: BLE001 — any failure ends the run without a result
        traceback.print_exc()
        return 1
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(RUN_ROOT):
            os.rmdir(RUN_ROOT)

    measured = wl.layers if args.trace else wl.metrics
    if set(measured) != set(declared):
        print(f"metrics differ from BENCHMARK.json: {sorted(set(measured) ^ set(declared))}",
              file=sys.stderr)
        return 1
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "wall_s": time.time() - wall0, "steal_jiffies_delta": _steal_jiffies() - steal0,
        "loadavg_1m": _loadavg(), "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "failed_ops_ratio": wl.failed / max(1, wl.attempted),
        "server_settings": pgserver.SERVER_SETTINGS, **wl.context,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": measured[k], "unit": unit} for k, unit in declared.items()},
    }))
    return 0 if wl.failed == 0 else 1


def _stop_jvm() -> None:
    """Stop Spark's JVM gateway process and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
