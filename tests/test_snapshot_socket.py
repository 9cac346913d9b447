"""Distributed pure-socket snapshot reader (r7 verdict item 6: the
documented production path where no JDBC jar exists — the pin caveat
retired by construction, since the explicit BEGIN + SET TRANSACTION
SNAPSHOT sequence is the one the live suite proves).

The executor-side fetch is a seam: these tests inject a deterministic
fake (exercising chunk fan-out, text->type casting, the OFFSET arm and
the chunk_reader factory); the real-server distributed read lives in
tests/test_live_postgres.py."""

from __future__ import annotations

import re

from go_pq_cdc_spark.config import TableConfig
from go_pq_cdc_spark.snapshot.planner import plan_integer_range, plan_offset
from go_pq_cdc_spark.sources.snapshot_socket import (
    chunk_sqls,
    make_socket_chunk_reader,
    snapshot_socket_read,
)

# a tiny "server": pk 1..100, val 'v<pk>', flag alternating t/f, one NULL
_ROWS = {
    pk: (str(pk), f"v{pk}" if pk != 7 else None, "t" if pk % 2 else "f")
    for pk in range(1, 101)
}


def _fake_fetch(conn_args, snapshot_id, sql):
    """Parses the chunk WHERE range out of the SQL and serves text rows —
    the wire client's simple_query shape (tuples of str|None)."""
    assert snapshot_id == "snap-1"  # the pin reached every task
    assert conn_args == {"host": "h", "port": 5, "user": "u", "database": "d"}
    m = re.search(r"pk >= (\d+) AND pk <= (\d+)", sql) or re.search(
        r"pk BETWEEN (\d+) AND (\d+)", sql
    )
    lo, hi = int(m.group(1)), int(m.group(2))
    return [_ROWS[pk] for pk in range(lo, hi + 1) if pk in _ROWS]


CONN = {"host": "h", "port": 5, "user": "u", "database": "d"}


def test_distributed_read_types_and_partitions(spark):
    plan = plan_integer_range("pk", 1, 100, chunk_size=25)
    tcfg = TableConfig(name="users")
    df = snapshot_socket_read(
        spark, CONN, tcfg, plan,
        schema_ddl="pk bigint, val string, flag boolean",
        snapshot_id="snap-1", fetch=_fake_fetch,
    )
    # one Spark partition per planner chunk — the JDBC fan-out shape
    assert df.rdd.getNumPartitions() == len(plan.chunks) == 4
    rows = {r["pk"]: r for r in df.collect()}
    assert len(rows) == 100 and rows[1]["val"] == "v1"
    assert rows[7]["val"] is None  # NULL survives the text path
    # PostgreSQL 't'/'f' text booleans cast JVM-side
    assert rows[1]["flag"] is True and rows[2]["flag"] is False
    assert dict(df.dtypes)["pk"] == "bigint"


def test_chunk_sqls_offset_arm():
    tcfg = TableConfig(name="users")
    plan = plan_offset(total_rows=50, chunk_size=20, order_by="ctid")
    sqls = chunk_sqls(tcfg, plan)
    assert len(sqls) == 3
    assert all("LIMIT 20 OFFSET" in s for s in sqls)


def test_chunk_reader_factory_for_cooperative_seed(spark):
    """`make_socket_chunk_reader` plugs straight into engine.start's
    chunk_reader contract: (tcfg, chunk_dict) -> one-chunk DataFrame."""
    reader = make_socket_chunk_reader(
        spark, CONN, schema_ddl="pk bigint, val string, flag boolean",
        snapshot_id="snap-1", fetch=_fake_fetch,
    )
    tcfg = TableConfig(name="users")
    chunk = {"chunk_index": 0, "where": "pk >= 11 AND pk <= 30"}
    df = reader(tcfg, chunk)
    # one partition, so one Python task, per chunk
    assert df.rdd.getNumPartitions() == 1
    got = {r["pk"] for r in df.collect()}
    assert got == set(range(11, 31))


def test_cooperative_chunk_sql_offset_dispatch():
    """OFFSET-plan chunks carry the planner's `__offset_chunk__ ...`
    sentinel, which is a LIMIT/OFFSET subquery form — the per-chunk
    cooperative reader must render it like chunk_sqls does, not paste it
    into a WHERE (a PostgreSQL syntax error at seed time for every
    PK-less table — r8 advisor)."""
    from go_pq_cdc_spark.snapshot.chunk_queue import manifest_from_plan
    from go_pq_cdc_spark.sources.snapshot_socket import cooperative_chunk_sql

    tcfg = TableConfig(name="users", columns=["pk", "val"])
    plan = plan_offset(total_rows=50, chunk_size=20, order_by="ctid")
    chunks = manifest_from_plan(plan)
    for i, c in enumerate(chunks):
        sql = cooperative_chunk_sql(tcfg, c, condition="val <> 'x'")
        assert "__offset_chunk__" not in sql
        assert f"LIMIT 20 OFFSET {i * 20}" in sql
        assert "WHERE val <> 'x'" in sql and "ORDER BY ctid" in sql
    # WHERE-range chunks keep the chunk_query path
    rng = manifest_from_plan(plan_integer_range("pk", 1, 40, chunk_size=40))
    sql = cooperative_chunk_sql(tcfg, rng[0])
    assert sql == "SELECT pk, val FROM public.users WHERE pk >= 1 AND pk <= 40"


def test_chunk_reader_factory_offset_chunk(spark):
    """End to end through the factory: an OFFSET chunk dict produces a
    well-formed subquery the fake server can serve."""
    def fetch(conn_args, snapshot_id, sql):
        # executor-side — smuggle the rendered SQL back through the rows
        return [("1", sql, "t"), ("2", sql, "f")]

    reader = make_socket_chunk_reader(
        spark, CONN, schema_ddl="pk bigint, val string, flag boolean",
        snapshot_id="snap-1", fetch=fetch,
    )
    from go_pq_cdc_spark.snapshot.chunk_queue import manifest_from_plan

    chunk = manifest_from_plan(plan_offset(4, chunk_size=2, order_by="ctid"))[1]
    rows = reader(TableConfig(name="users"), chunk).collect()
    assert len(rows) == 2
    sql = rows[0]["val"]
    assert "__offset_chunk__" not in sql and "LIMIT 2 OFFSET 2" in sql


def test_condition_and_projection_reach_sql():
    tcfg = TableConfig(name="users", columns=["pk", "val"])
    plan = plan_integer_range("pk", 1, 40, chunk_size=40)
    (sql,) = chunk_sqls(tcfg, plan, condition="val <> 'x'")
    assert sql.startswith("SELECT pk, val FROM public.users")
    assert "AND (val <> 'x')" in sql


def test_seed_merge_fetches_each_chunk_once(spark, tmp_path):
    """A seed merge reads its chunk from PostgreSQL exactly once: the
    bucket routing and the bucket write share one (persisted) read
    instead of each re-running the executor-side fetch."""
    from pyspark.sql import functions as F

    from go_pq_cdc_spark.streaming.changelog_stream import (
        merge_mirror_batch,
        read_mirror,
    )

    log = tmp_path / "fetches.log"

    def counting_fetch(conn_args, snapshot_id, sql):
        # runs in executor processes: count through the filesystem
        with open(log, "a") as f:
            f.write("fetch\n")
        return _fake_fetch(conn_args, snapshot_id, sql)

    reader = make_socket_chunk_reader(
        spark, CONN, schema_ddl="pk bigint, val string, flag boolean",
        snapshot_id="snap-1", fetch=counting_fetch,
    )
    chunk = {"chunk_index": 0, "where": "pk >= 1 AND pk <= 40"}
    seed = reader(TableConfig(name="users"), chunk).select(
        "pk", F.lit(500).cast("long").alias("lsn"), F.lit("R").alias("op"),
        "val", "flag",
    )
    state = str(tmp_path / "mirror")
    merge_mirror_batch(seed, state, value_cols=("val", "flag"))

    assert log.read_text().count("fetch") == 1
    got = {r["pk"]: (r["val"], r["flag"], r["lsn"]) for r in read_mirror(spark, state).collect()}
    assert got == {
        pk: (_ROWS[pk][1], pk % 2 == 1, 500) for pk in range(1, 41)
    }
