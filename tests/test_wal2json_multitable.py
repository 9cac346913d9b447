"""wal2json decode (O4/O5 over the poll transport), multi-table mirror
fan-out (O17), and slot-capture failover loop (O25)."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from go_pq_cdc_spark.sources.postgres import capture_slot
from go_pq_cdc_spark.sources.wal2json import decode_wal2json
from go_pq_cdc_spark.streaming.changelog_stream import multi_mirror_sink, read_mirror

# slow tier (r13 verdict item 1): excluded from the default pytest run
# so the driver's gate finishes inside its window; run with
# `pytest -m "slow or not slow"` (full) or `-m slow` (this tier only).
pytestmark = pytest.mark.slow


def test_decode_wal2json(spark):
    raw = spark.createDataFrame(
        [
            Row(
                lsn=10,
                xid=1,
                data='{"action":"I","schema":"public","table":"users",'
                '"timestamp":"2024-01-01 00:00:01",'
                '"columns":[{"name":"id","type":"integer","value":"1"},'
                '{"name":"name","type":"text","value":"alice"}]}',
            ),
            Row(
                lsn=11,
                xid=1,
                data='{"action":"U","schema":"public","table":"users",'
                '"timestamp":"2024-01-01 00:00:02",'
                '"columns":[{"name":"id","type":"integer","value":"1"},'
                '{"name":"name","type":"text","value":"alice2"}],'
                '"identity":[{"name":"id","type":"integer","value":"1"},'
                '{"name":"name","type":"text","value":"alice"}]}',
            ),
            Row(lsn=12, xid=1, data='{"action":"C"}'),  # commit marker dropped
            Row(
                lsn=13,
                xid=2,
                data='{"action":"D","schema":"public","table":"orders",'
                '"timestamp":"2024-01-01 00:00:03",'
                '"identity":[{"name":"id","type":"integer","value":"7"}]}',
            ),
        ]
    )
    env = decode_wal2json(raw)
    rows = {r["lsn"]: r for r in env.collect()}
    assert set(rows) == {10, 11, 13}
    assert rows[10]["op"] == "I" and rows[10]["after"]["name"] == "alice"
    assert rows[11]["before"]["name"] == "alice" and rows[11]["after"]["name"] == "alice2"
    assert rows[13]["op"] == "D" and rows[13]["table"] == "orders"
    assert rows[13]["before"]["id"] == "7"


MULTI_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("xid", T.LongType()),
        T.StructField("commit_ts", T.TimestampType()),
        T.StructField("pk", T.LongType()),
        T.StructField("after_val", T.DoubleType()),
        T.StructField("tbl", T.StringType()),
    ]
)


def test_multi_table_mirror(spark):
    base = tempfile.mkdtemp(prefix="gpcs_multi_")
    try:
        ind = os.path.join(base, "in")
        os.makedirs(ind)
        ts = datetime.datetime(2024, 1, 1)
        rows = [
            Row(op="I", lsn=1, xid=1, commit_ts=ts, pk=1, after_val=1.0, tbl="public.users"),
            Row(op="I", lsn=2, xid=1, commit_ts=ts, pk=1, after_val=9.0, tbl="public.orders"),
            Row(op="U", lsn=3, xid=2, commit_ts=ts, pk=1, after_val=1.5, tbl="public.users"),
            Row(op="D", lsn=4, xid=2, commit_ts=ts, pk=1, after_val=None, tbl="public.orders"),
        ]
        spark.createDataFrame(rows, MULTI_SCHEMA).coalesce(1).write.parquet(
            os.path.join(ind, "b0")
        )
        stream = (
            spark.readStream.schema(MULTI_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(ind + "/*")
        )
        q = multi_mirror_sink(stream, os.path.join(base, "state"), os.path.join(base, "ck"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        users = read_mirror(spark, os.path.join(base, "state", "public__users")).collect()
        assert [(r["pk"], r["after_val"]) for r in users] == [(1, 1.5)]
        orders = read_mirror(spark, os.path.join(base, "state", "public__orders"))
        assert orders.count() == 0  # deleted key gone
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_capture_slot_takeover():
    statuses = [{"active": True}, {"active": True}, {"active": False, "restart_lsn": "0/1"}]
    calls = {"n": 0}

    def status_fn():
        s = statuses[min(calls["n"], len(statuses) - 1)]
        calls["n"] += 1
        return s

    slept = []
    out = capture_slot(status_fn, poll_interval_s=1.0, sleep=slept.append)
    assert out["restart_lsn"] == "0/1"
    assert len(slept) == 2  # polled while active, took over when freed

    with pytest.raises(TimeoutError):
        capture_slot(lambda: {"active": True}, poll_interval_s=1.0, timeout_s=3.0, sleep=lambda _: None)


def test_new_table_appears_mid_stream(spark):
    """A table added to the publication mid-stream just starts producing
    events; the fan-out sink must create its mirror on the fly without
    disturbing existing mirrors (schema-evolution-proof routing)."""
    base = tempfile.mkdtemp(prefix="gpcs_newtbl_")
    try:
        ind = os.path.join(base, "in")
        os.makedirs(ind)
        ts = datetime.datetime(2024, 1, 1)
        spark.createDataFrame(
            [Row(op="I", lsn=1, xid=1, commit_ts=ts, pk=1, after_val=1.0, tbl="public.users")],
            MULTI_SCHEMA,
        ).coalesce(1).write.parquet(os.path.join(ind, "b0"))
        stream = (
            spark.readStream.schema(MULTI_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(ind + "/*")
        )
        q = multi_mirror_sink(stream, os.path.join(base, "state"), os.path.join(base, "ck"))
        try:
            q.processAllAvailable()
            # the new table's first-ever events arrive in a later batch
            spark.createDataFrame(
                [
                    Row(op="I", lsn=2, xid=2, commit_ts=ts, pk=5, after_val=5.0, tbl="public.invoices"),
                    Row(op="U", lsn=3, xid=2, commit_ts=ts, pk=1, after_val=1.5, tbl="public.users"),
                ],
                MULTI_SCHEMA,
            ).coalesce(1).write.parquet(os.path.join(ind, "b1"))
            q.processAllAvailable()
        finally:
            q.stop()
        inv = read_mirror(spark, os.path.join(base, "state", "public__invoices")).collect()
        assert [(r["pk"], r["after_val"]) for r in inv] == [(5, 5.0)]
        users = read_mirror(spark, os.path.join(base, "state", "public__users")).collect()
        assert [(r["pk"], r["after_val"]) for r in users] == [(1, 1.5)]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_wal2json_rejects_partition_every_row(spark):
    """Dead-letter contract: every raw row lands in EXACTLY one of
    decode_wal2json (I/U/D/T), the consumed-marker set (B/C/M), or
    wal2json_rejects — corrupt JSON and unknown actions can never vanish
    silently."""
    from pyspark.sql import functions as F

    from go_pq_cdc_spark.sources.wal2json import (
        decode_wal2json,
        wal2json_rejects,
    )

    raw = spark.createDataFrame(
        [
            Row(lsn=1, xid=1, data='{"action":"B"}'),
            Row(
                lsn=2, xid=1,
                data='{"action":"I","schema":"public","table":"t",'
                '"timestamp":"2024-01-01 00:00:01",'
                '"columns":[{"name":"id","type":"integer","value":"1"}]}',
            ),
            Row(lsn=3, xid=1, data='{"action":"C"}'),
            Row(lsn=4, xid=2, data='this is not json at all {{{'),
            Row(lsn=5, xid=2, data='{"no_action_key": true}'),
            Row(lsn=6, xid=2, data='{"action":"Z","table":"t"}'),
            Row(lsn=7, xid=2, data='{"action":"M","prefix":"app"}'),
        ],
        "lsn long, xid long, data string",
    )
    decoded_lsns = {r["lsn"] for r in decode_wal2json(raw).collect()}
    reject_rows = wal2json_rejects(raw).collect()
    reject_lsns = {r["lsn"] for r in reject_rows}
    consumed = {
        r["lsn"]
        for r in raw.withColumn(
            "a", F.get_json_object("data", "$.action")
        ).filter(F.col("a").isin("B", "C", "M")).collect()
    }
    assert decoded_lsns == {2}
    assert reject_lsns == {4, 5, 6}
    assert consumed == {1, 3, 7}
    assert decoded_lsns | reject_lsns | consumed == {1, 2, 3, 4, 5, 6, 7}
    # rejects keep the raw payload for forensics
    assert {r["data"] for r in reject_rows} == {
        "this is not json at all {{{",
        '{"no_action_key": true}',
        '{"action":"Z","table":"t"}',
    }


def test_wal2json_truncate_reaches_mirror(spark, tmp_path):
    """TRUNCATE through the wal2json transport: the 'T' document decodes
    to an op='T' envelope row (no images), the typed flat projection
    carries a NULL pk, and the mirror merge clears state up to it —
    parity with the socket path's live-verified behavior."""
    import os

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from go_pq_cdc_spark.sources.wal2json import decode_wal2json
    from go_pq_cdc_spark.streaming import merge_mirror_batch, read_mirror

    raw = spark.createDataFrame(
        [
            Row(lsn=10, xid=1,
                data='{"action":"I","schema":"public","table":"users",'
                '"timestamp":"2024-01-01 00:00:01",'
                '"columns":[{"name":"pk","type":"bigint","value":"1"},'
                '{"name":"after_val","type":"float8","value":"1.5"}]}'),
            Row(lsn=11, xid=2,
                data='{"action":"T","schema":"public","table":"users",'
                '"timestamp":"2024-01-01 00:00:02"}'),
            Row(lsn=12, xid=3,
                data='{"action":"I","schema":"public","table":"users",'
                '"timestamp":"2024-01-01 00:00:03",'
                '"columns":[{"name":"pk","type":"bigint","value":"2"},'
                '{"name":"after_val","type":"float8","value":"2.5"}]}'),
        ]
    )
    env = decode_wal2json(raw)
    t_row = env.filter(env.op == "T").collect()[0]
    assert t_row["table"] == "users" and t_row["before"] is None

    flat = env.select(
        "op", "lsn", "xid", "commit_ts",
        F.col("after.pk").cast("bigint").alias("pk"),
        F.col("after.after_val").cast("double").alias("after_val"),
    )
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir, exist_ok=True)
    merge_mirror_batch(flat, state_dir, epoch=None)
    state = {
        r["pk"]: r["after_val"] for r in read_mirror(spark, state_dir).collect()
    }
    assert state == {2: 2.5}  # pk1 truncated away, pk2 survives
