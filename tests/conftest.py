from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_pq_cdc_spark.catalog import TABLES, table_path  # noqa: E402
from go_pq_cdc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("go-pq-cdc-spark-tests", cpus=8)
    yield s


@pytest.fixture()
def mount_backend():
    """`claim_backend.mount(root, backend)` for one test: returns the
    backend, and every mount it made is removed when the test ends."""
    from go_pq_cdc_spark.snapshot.claim_backend import mount

    roots: list[str] = []

    def _mount(root, backend):
        mount(root, backend)
        roots.append(root)
        return backend

    yield _mount
    for root in roots:
        mount(root, None)


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    yield con
    con.close()


def register_duckdb_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )


def _norm(v):
    """Normalize a cell for cross-engine comparison (mirrors the driver's
    order-insensitive value hash: exact equality, no float tolerance).
    Type families are part of the identity: Decimal('4.0') must NOT pass
    for float 4.0 — a value-hash would stringify them differently."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("f", v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    return (type(v).__name__, v) if v is not None else None


def assert_frames_match(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    """Run the Spark plan and the DuckDB oracle; compare as sorted multisets
    with columns sorted by name — the same shape the driver hashes."""
    spark_cols = sorted(spark_df.columns)
    spark_rows = [tuple(_norm(r[c]) for c in spark_cols) for r in spark_df.collect()]

    res = con.execute(sql)
    ddb_cols_raw = [d[0] for d in res.description]
    ddb_rows_raw = res.fetchall()
    order = sorted(range(len(ddb_cols_raw)), key=lambda i: ddb_cols_raw[i])
    ddb_cols = [ddb_cols_raw[i] for i in order]
    ddb_rows = [tuple(_norm(row[i]) for i in order) for row in ddb_rows_raw]

    assert spark_cols == ddb_cols, f"{name}: column mismatch {spark_cols} vs {ddb_cols}"
    assert len(spark_rows) == len(ddb_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(ddb_rows)}"
    )
    s_sorted = sorted(spark_rows, key=repr)
    d_sorted = sorted(ddb_rows, key=repr)
    mismatches = [
        (a, b) for a, b in zip(s_sorted, d_sorted) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"
