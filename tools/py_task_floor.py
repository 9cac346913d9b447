"""Fixed cost of one Python task in a ``get_spark()`` session.

Prints one JSON line with three numbers:

- ``py_job_median_s``: median wall time of N one-task ``mapInArrow`` jobs
- ``jvm_job_median_s``: the same for a one-task JVM-only job
- ``worker_invalidate_caches_ms``: median time of
  ``importlib.invalidate_caches()`` measured inside a Python worker, the
  call PySpark makes before every task

plus the module that provides ``zipimport.zipimporter.invalidate_caches``
in the workers. The gap between the two job medians is the per-Python-task
floor; with the engine's worker daemon it is a few tens of ms.

    python3 tools/py_task_floor.py [--jobs 20] [--cpus 4]

Run it from the repo root, or with the repo root on ``PYTHONPATH``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _probe(batches):
    import importlib
    import zipimport

    import pyarrow as pa

    for _ in batches:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        yield pa.RecordBatch.from_pydict(
            {
                "ms": [ms],
                "impl": [zipimport.zipimporter.invalidate_caches.__module__],
            }
        )


def _median_wall(run, n: int) -> float:
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--jobs", type=int, default=20)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args(argv)

    from go_pq_cdc_spark.session import get_spark

    spark = get_spark("py-task-floor", cpus=args.cpus)
    one = spark.range(1, numPartitions=1)
    py_job = one.mapInArrow(_probe, "ms double, impl string")
    jvm_job = one.selectExpr("id + 1 AS x")
    for _ in range(3):  # warm: JVM codegen, daemon start, worker fork
        py_job.collect()
        jvm_job.collect()
    probes = []
    py_s = _median_wall(lambda: probes.extend(py_job.collect()), args.jobs)
    jvm_s = _median_wall(jvm_job.collect, args.jobs)
    out = {
        "jobs": args.jobs,
        "py_job_median_s": round(py_s, 4),
        "jvm_job_median_s": round(jvm_s, 4),
        "py_minus_jvm_s": round(py_s - jvm_s, 4),
        "worker_invalidate_caches_ms": round(
            statistics.median(r["ms"] for r in probes), 2
        ),
        "worker_invalidate_caches_impl": sorted({r["impl"] for r in probes}),
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
