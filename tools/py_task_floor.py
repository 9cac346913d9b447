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

It also prints the fold throughput: ``fold_mb_per_s`` maps a stored
bucket size (MB, the written file) to the MB/s at which ``BucketTask.run``
folds a 1 % update batch into it, in this process (synthetic rows with
incompressible 2.5 KB string values, like TOAST text). The floor times
the median throughput, ``fold_task_pays_at_mb``, is the stored size at
which a fold task does as much work as it costs to start; it sizes
``changelog_stream.FOLD_TASK_BYTES``.

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

# Stored bucket sizes (MB) the fold throughput is measured at.
FOLD_MB = (1, 4, 16, 64)


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


def _fold_mb_per_s(size_mb: int, root: str, reps: int = 3) -> tuple[float, float]:
    """(stored MB, MB/s) of `BucketTask.run` folding a 1 % update batch
    into one synthetic bucket of about `size_mb`."""
    import base64

    import pyarrow as pa

    from go_pq_cdc_spark.operators.bucket_fold import BucketFiles, BucketTask

    schema = pa.schema([("pk", pa.int64()), ("lsn", pa.int64()), ("op", pa.string()),
                        ("txn_seq", pa.int64()), ("val", pa.string())])
    n = max(size_mb * (1 << 20) // 2560, 1)

    def rows(pks, op, seq):
        vals = [base64.b64encode(os.urandom(1920)).decode() for _ in pks]
        return pa.table({"pk": pks, "lsn": [1 + seq] * len(pks), "op": [op] * len(pks),
                         "txn_seq": [seq] * len(pks), "val": vals}, schema=schema)

    state = os.path.join(root, f"fold{size_mb}")
    base = BucketFiles(state, {"buckets": {}}, schema)
    rel = "epochs/base/pb=0"
    stored = base.write(rel, rows(list(range(n)), "R", 0).drop_columns(["txn_seq"]))
    files = BucketFiles(state, {"buckets": {"0": rel}}, schema)
    batch = rows(list(range(0, n, 100)), "U", 1)
    walls = []
    for i in range(reps):
        t0 = time.perf_counter()
        BucketTask(files, f"epochs/e{i}").run(0, batch)
        walls.append(time.perf_counter() - t0)
    mb = stored / (1 << 20)
    return mb, mb / statistics.median(walls)


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
    import tempfile

    with tempfile.TemporaryDirectory() as root:
        folds = [_fold_mb_per_s(mb, root) for mb in FOLD_MB]
    out["fold_mb_per_s"] = {f"{mb:.1f}": round(rate) for mb, rate in folds}
    out["fold_task_pays_at_mb"] = round(
        (py_s - jvm_s) * statistics.median(rate for _mb, rate in folds), 1
    )
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
