"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs are
what we would set on a 1000-executor cluster (AQE on, shuffle partitions
sized to parallelism, Arrow on, UTC session timezone so results are
oracle-comparable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark_major_version() -> int:
    import pyspark

    try:
        return int(pyspark.__version__.split(".", 1)[0])
    except (ValueError, AttributeError):
        return 4


def _package_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "go-pq-cdc-spark", *, cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster the master/memory settings come from spark-submit; only
    the SQL-level configs below matter there:
      - AQE + coalesce + skew-join: runtime re-planning at scale
      - shuffle.partitions ~ parallelism for local; on a cluster this would be
        2-3x total cores (AQE coalesces down)
      - UTC timezone: deterministic timestamps vs the DuckDB oracle
      - Arrow: fast pandas interchange for the few Pandas-UDF operators
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Optimization r13 (guide §3.1/§9): let the planner pick a
        # shuffled hash join when its size conditions are met instead of
        # always sort-merge, and let AQE rewrite SMJ->SHJ when every
        # post-shuffle partition fits the local-map threshold. Scale
        # story: per-partition hash build skips both sorts; AQE
        # skew-split still applies to SHJ, and oversized builds fall
        # back to SMJ by the planner's own size gate. Values are
        # runtime-settable (non-local deployments inherit the same
        # defaults via apply_session_defaults).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
    )
    if _spark_major_version() < 4:
        # Spark 3 only: read parquet TIMESTAMP(NANOS) as long nanos (the
        # catalog converts to micros timestamps). Removed in Spark 4, where
        # NANOS loads natively as TIMESTAMP_NTZ and the catalog casts it.
        builder = builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    active = SparkSession.getActiveSession()
    if active is None:
        builder = (
            builder.master(f"local[{n}]")
            .config("spark.driver.memory", "16g")
            # SparkContext (static) confs, so they apply only when this
            # call creates the context: the worker daemon that keeps zip
            # directory caches across tasks (_worker_daemon.py), and the
            # package root on the workers' PYTHONPATH so that daemon and
            # the Python UDFs import from any working directory.
            .config("spark.python.daemon.module", "go_pq_cdc_spark._worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _package_root())
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine defaults to an externally provided
    session (the driver hands us one in ``__spark_entry__.entry``). The
    worker daemon and the workers' ``PYTHONPATH`` are SparkContext confs,
    which only ``get_spark`` sets, when it creates the context."""
    confs = [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.join.preferSortMergeJoin", "false"),
        ("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB"),
    ]
    if _spark_major_version() < 4:
        confs.append(("spark.sql.legacy.parquet.nanosAsLong", "true"))
    for k, v in confs:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be static in some harnesses; defaults are sane
    return spark
