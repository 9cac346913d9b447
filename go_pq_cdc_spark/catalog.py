"""Table catalog over the engine's captured tables.

In production the engine's snapshot+CDC pipeline materializes each captured
PostgreSQL table as parquet/Delta; the test harness substitutes the driver's
TESTDATA parquet for the capture output behind the same interface
(SURVEY.md §7 M1: "read side substitutes parquet for JDBC behind the same
planner interface").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (their
# cardinality is fixed or near-fixed: region=5, nation=25).
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Schema cache: every bare `spark.read.parquet(path)` runs a footer-read
# schema-INFERENCE job before the query can even plan (measured: 1 job /
# ~0.15 s per call on this box — a 6-table TPC-H build paid 6 jobs at
# every plan build). A real catalog serves schemas as metadata; mirror
# that by inferring once per content key and declaring the schema on
# every later read (`.schema(s).parquet(path)` skips the inference job
# entirely). This caches plan-time METADATA only — table contents are
# re-read by every query execution.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _schema_cache_key(path: str) -> tuple:
    """Invalidation key for one table path. The directory mtime alone is
    NOT enough (ADVICE r13): part files overwritten IN PLACE (same
    filenames) or rewritten within mtime granularity keep the directory
    mtime — and a stale declared schema would surface as silent NULL
    columns, not an error. Fold the direct listing into the key (count +
    max child mtime + total child bytes), so any in-place rewrite that
    changes a file's size or timestamp re-infers. O(1 listing), no file
    contents touched — still pure metadata."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (path, st.st_mtime, st.st_size)
    n, max_m, total = 0, st.st_mtime, 0
    for e in os.scandir(path):
        s = e.stat()
        n += 1
        max_m = max(max_m, s.st_mtime)
        total += s.st_size
    return (path, st.st_mtime, n, max_m, total)


def _read_with_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        key = _schema_cache_key(path)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = _read_with_cached_schema(spark, table_path(sf_dir, name))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). How it loads depends on the
        # Spark major version, so branch on the observed dtype rather than a
        # config flag:
        #   - Spark 3 + spark.sql.legacy.parquet.nanosAsLong=true: long nanos;
        #     convert with exact integer division (DuckDB's epoch_us()
        #     truncates identically).
        #   - Spark 4: the legacy flag was removed; NANOS loads natively as
        #     TIMESTAMP_NTZ truncated to micros. Cast to session-tz TIMESTAMP
        #     (session tz is pinned UTC) so the schema matches the Spark-3
        #     path and DuckDB's CAST(ts AS TIMESTAMP) to the microsecond.
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type.startswith("timestamp") and ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_row_bound(sf_dir: str, name: str) -> int:
    """Total row count of a captured table read from parquet FOOTER
    metadata only — O(files), no Spark job (the `changelog_frontier`
    class of plan-time scalar). Used where a plan needs an UPPER BOUND
    on a table's cardinality (e.g. sizing a Bloom filter over a filtered
    subset of it) without paying a count() job per plan build."""
    import glob

    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
