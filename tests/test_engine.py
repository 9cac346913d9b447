"""CdcEngine facade test: setup DDL ordering (O28) + parquet-transport
snapshot + plan wiring."""

from __future__ import annotations

from go_pq_cdc_spark.config import EngineConfig, TableConfig
from go_pq_cdc_spark.engine import CdcEngine
from go_pq_cdc_spark.snapshot.planner import Strategy

from .conftest import SF_DIR


def _engine(spark):
    cfg = EngineConfig(
        tables=[
            TableConfig("users", replica_identity="FULL"),
            TableConfig("cdc_heartbeat"),
        ]
    )
    return CdcEngine(cfg, spark)


def test_setup_sql_order(spark):
    eng = _engine(spark)
    stmts = eng.setup_sql()
    joined = "\n".join(stmts)
    # heartbeat table before publication, publication before slot —
    # slot creation pins WAL before any snapshot (connector.go:350-379)
    assert joined.index("CREATE TABLE IF NOT EXISTS") < joined.index("CREATE PUBLICATION")
    assert joined.index("CREATE PUBLICATION") < joined.index(
        "pg_create_logical_replication_slot"
    )
    assert "ALTER TABLE public.users REPLICA IDENTITY FULL" in stmts


def test_snapshot_plan_and_parquet_transport(spark):
    eng = _engine(spark)
    plan = eng.plan_snapshot(eng.config.tables[0], integer_pk="id", min_val=0, max_val=99_999)
    assert plan.strategy is Strategy.INTEGER_RANGE
    assert len(plan.chunks) == 13  # ceil(100000/8000)
    df = eng.snapshot_parquet(f"{SF_DIR}/orders.parquet", ["o_orderkey", "o_totalprice"])
    assert df.columns == ["o_orderkey", "o_totalprice"]
    assert df.count() > 0


def test_snapshot_only_resume(spark, tmp_path):
    from go_pq_cdc_spark.engine import snapshot_only

    out = str(tmp_path / "snap")
    df = _engine(spark).snapshot_parquet(f"{SF_DIR}/region.parquet")
    assert snapshot_only(df, out) is True
    # second run resumes: committed output is not rewritten
    assert snapshot_only(df, out) is False
    assert spark.read.parquet(out).count() == df.count()


def test_engine_slot_keeper_and_raw_changes(spark, tmp_path):
    """Facade glue: config -> SlotKeeper (slot name, table filter, heartbeat
    tick) and raw segments -> decoded streaming envelope."""
    import json

    from go_pq_cdc_spark.config import EngineConfig, TableConfig
    from go_pq_cdc_spark.engine import CdcEngine
    from go_pq_cdc_spark.sources.slot_keeper import int_to_lsn

    cfg = EngineConfig(
        slot_name="s_eng",
        slot_plugin="wal2json",
        tables=[TableConfig("users"), TableConfig("cdc_heartbeat")],
    )
    eng = CdcEngine(cfg, spark)
    wal_dir = str(tmp_path / "wal")

    doc = json.dumps(
        {
            "action": "I",
            "schema": "public",
            "table": "users",
            "timestamp": "2024-01-01 00:00:00",
            "columns": [{"name": "pk", "type": "bigint", "value": "1"}],
        }
    )
    polled = {"rows": [(int_to_lsn(10), 5, doc)]}

    def run_sql(sql):
        if "peek_changes" in sql:
            assert "'add-tables', 'public.users,public.cdc_heartbeat'" in sql
            assert "'s_eng'" in sql
            return polled["rows"]
        return [(1,)]

    k = eng.slot_keeper(run_sql, wal_dir, sleep=lambda _s: None)
    assert "cdc_heartbeat SET last_heartbeat" in k.heartbeat_sql
    assert k.poll_once() == 1 and k.advance_once()

    env = eng.raw_changes(wal_dir)
    q = (
        env.writeStream.outputMode("append")
        .format("memory")
        .queryName("eng_raw")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT op, lsn, xid, after['pk'] pk FROM eng_raw").collect()
        assert [(r["op"], r["lsn"], r["xid"], r["pk"]) for r in rows] == [("I", 10, 5, "1")]
    finally:
        q.stop()


def test_raw_changes_resolves_plugin_from_config(spark, tmp_path):
    """raw_changes defaults to config.slot_plugin so the decode arm always
    matches the plugin the slot was created with: a wal2json decode over
    test_decoding text lines silently drops EVERY row (the from_json
    action filter) — the data-loss class the r8 advisor flagged."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from go_pq_cdc_spark.config import EngineConfig, TableConfig
    from go_pq_cdc_spark.engine import CdcEngine
    from go_pq_cdc_spark.sources.lsn_stream import segment_path

    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()
    line = "table public.users: INSERT: pk[bigint]:1 val[text]:'a'"
    pdf = pd.DataFrame([(10, 5, line)], columns=["lsn", "xid", "data"])
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        segment_path(str(wal_dir), 10, 10),
    )

    cfg = EngineConfig(
        slot_plugin="test_decoding",
        tables=[TableConfig("users"), TableConfig("cdc_heartbeat")],
    )
    eng = CdcEngine(cfg, spark)
    env = eng.raw_changes(str(wal_dir))  # no plugin= — resolves from config
    q = (
        env.writeStream.outputMode("append")
        .format("memory")
        .queryName("eng_raw_cfg")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT op, after['pk'] pk FROM eng_raw_cfg"
        ).collect()
        assert [(r["op"], r["pk"]) for r in rows] == [("I", "1")]
    finally:
        q.stop()

    # pgoutput is socket-framed — poll-segment decode must refuse loudly
    pg_eng = CdcEngine(
        EngineConfig(
            tables=[TableConfig("users"), TableConfig("cdc_heartbeat")]
        ),
        spark,
    )
    with pytest.raises(ValueError, match="envelope_changes"):
        pg_eng.raw_changes(str(wal_dir))


def test_start_initial_lifecycle(spark, tmp_path):
    """connector.Start sequencing end-to-end: DDL (slot last, before the
    snapshot LSN is read) -> snapshot seeds the mirror at the handoff LSN
    -> stream applies only post-handoff events -> mirror equals the
    no-gap-no-dup state."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    executed: list[str] = []

    def run_sql(sql):
        executed.append(sql)
        if "pg_current_wal_lsn" in sql:
            return [("0/14",)]  # snapshot LSN = 20
        return []

    def snapshot_reader(table):
        assert table.qualified == "public.users"
        return spark.createDataFrame(
            [Row(pk=10, after_val=1.0), Row(pk=20, after_val=2.0)]
        )

    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    events = [
        ("U", 15, 1, ts, 10, 9.9),  # pre-handoff: already in the snapshot image
        ("U", 25, 2, ts, 10, 1.5),
        ("I", 30, 3, ts, 30, 3.0),
        ("D", 35, 4, ts, 20, None),
    ]
    pdf = pd.DataFrame(events, columns=["op", "lsn", "xid", "commit_ts", "pk", "after_val"])
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(wal_dir / "seg.parquet"),
        coerce_timestamps="us",
    )

    # snapshot tables default to all configured tables; restrict to users
    eng.config.snapshot_tables = ["public.users"]
    snapshot_lsn, q = eng.start(
        run_sql,
        str(wal_dir),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        chunk_reader=lambda t, _c: snapshot_reader(t),
    )
    assert snapshot_lsn == 20
    # slot is created after the publication and before the LSN read
    slot_i = next(i for i, s in enumerate(executed) if "pg_create_logical_replication_slot" in s)
    pub_i = next(i for i, s in enumerate(executed) if "CREATE PUBLICATION" in s)
    lsn_i = next(i for i, s in enumerate(executed) if "pg_current_wal_lsn" in s)
    assert pub_i < slot_i < lsn_i
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = {
        r["pk"]: (r["after_val"], r["lsn"])
        for r in read_mirror(spark, str(tmp_path / "state")).collect()
    }
    # pk10: snapshot 1.0@20 then U 1.5@25 (the 9.9@15 pre-handoff event is
    # dropped); pk20: snapshot then deleted @35; pk30: inserted @30
    assert state == {10: (1.5, 25), 30: (3.0, 30)}


def test_start_initial_lifecycle_delta_merge_mode(spark, tmp_path):
    """The same connector.Start lifecycle with merge_mode="delta": the
    snapshot seed writes the base (always COW — it IS the base), the
    stream's micro-batches append merge-on-read deltas, and the final
    mirror state is identical to the COW lifecycle's."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from go_pq_cdc_spark.streaming import read_mirror
    from go_pq_cdc_spark.streaming.changelog_stream import _read_manifest

    eng = _engine(spark)

    def run_sql(sql):
        if "pg_current_wal_lsn" in sql:
            return [("0/14",)]  # snapshot LSN = 20
        return []

    def snapshot_reader(table):
        return spark.createDataFrame(
            [Row(pk=10, after_val=1.0), Row(pk=20, after_val=2.0)]
        )

    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    events = [
        ("U", 15, 1, ts, 10, 9.9),  # pre-handoff
        ("U", 25, 2, ts, 10, 1.5),
        ("I", 30, 3, ts, 30, 3.0),
        ("D", 35, 4, ts, 20, None),
    ]
    pdf = pd.DataFrame(
        events, columns=["op", "lsn", "xid", "commit_ts", "pk", "after_val"]
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(wal_dir / "seg.parquet"),
        coerce_timestamps="us",
    )

    eng.config.snapshot_tables = ["public.users"]
    state_dir = str(tmp_path / "state")
    snapshot_lsn, q = eng.start(
        run_sql,
        str(wal_dir),
        state_dir,
        str(tmp_path / "ckpt"),
        chunk_reader=lambda t, _c: snapshot_reader(t),
        merge_mode="delta",
    )
    assert snapshot_lsn == 20
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = {
        r["pk"]: (r["after_val"], r["lsn"])
        for r in read_mirror(spark, state_dir).collect()
    }
    assert state == {10: (1.5, 25), 30: (3.0, 30)}
    # the stream's merge actually took the delta path (seed stayed base)
    m = _read_manifest(state_dir)
    assert any(m.get("deltas", {}).values())


def test_start_snapshot_only(spark, tmp_path):
    """snapshot_only mode seeds the mirror and starts no stream."""
    from pyspark.sql import Row

    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    eng.config.snapshot_mode = "snapshot_only"
    eng.config.snapshot_tables = ["public.users"]

    def run_sql(sql):
        return [("0/A",)] if "pg_current_wal_lsn" in sql else []

    snapshot_lsn, q = eng.start(
        run_sql,
        str(tmp_path / "wal"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        chunk_reader=lambda t, _c: spark.createDataFrame([Row(pk=1, after_val=0.5)]),
    )
    assert (snapshot_lsn, q) == (10, None)
    state = {r["pk"]: r["after_val"] for r in read_mirror(spark, str(tmp_path / "state")).collect()}
    assert state == {1: 0.5}


def test_start_snapshot_resume_and_force_resnapshot(spark, tmp_path):
    """connector.go:406-444 resume + config.go:328 resnapshot: a completed
    seed is SKIPPED on restart (the reader is not called again); with
    resnapshot=True the marker is cleared and the seed reprocesses all
    data, including rows added since (snapshot_force_resnapshot_test.go)."""
    from pyspark.sql import Row

    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    eng.config.snapshot_mode = "snapshot_only"
    eng.config.snapshot_tables = ["public.users"]

    def run_sql(sql):
        return [("0/A",)] if "pg_current_wal_lsn" in sql else []

    calls = {"n": 0}
    data = [Row(pk=1, after_val=0.5)]

    def reader(t):
        calls["n"] += 1
        return spark.createDataFrame(data)

    args = (run_sql, str(tmp_path / "wal"), str(tmp_path / "state"), str(tmp_path / "ckpt"))
    eng.start(*args, chunk_reader=lambda t, _c: reader(t))
    assert calls["n"] == 1

    # restart: completed marker -> seed skipped, reader untouched
    eng.start(*args, chunk_reader=lambda t, _c: reader(t))
    assert calls["n"] == 1

    # new data + resnapshot=True -> reprocess everything
    data.append(Row(pk=2, after_val=2.5))
    eng.config.resnapshot = True
    eng.start(*args, chunk_reader=lambda t, _c: reader(t))
    assert calls["n"] == 2
    state = {
        r["pk"]: r["after_val"]
        for r in read_mirror(spark, str(tmp_path / "state")).collect()
    }
    assert state == {1: 0.5, 2: 2.5}


def test_start_rejects_legacy_snapshot_done_state_dir(spark, tmp_path):
    """A state dir seeded by the retired whole-table job claim has a
    `_snapshot_done` marker and no chunk queue. Re-seeding it at a fresh
    LSN would leave rows deleted since the old seed in the mirror, so
    start() refuses it before reading anything."""
    import json

    import pytest

    eng = _engine(spark)
    eng.config.snapshot_mode = "snapshot_only"
    eng.config.snapshot_tables = ["public.users"]
    state = tmp_path / "state"
    state.mkdir()
    (state / "_snapshot_done").write_text(json.dumps({"snapshot_lsn": 10}))

    def run_sql(sql):
        return [("0/A",)] if "pg_current_wal_lsn" in sql else []

    def reader(t, _c):
        raise AssertionError("legacy state dir must not be re-seeded")

    with pytest.raises(RuntimeError, match="rebuild the state dir"):
        eng.start(
            run_sql,
            str(tmp_path / "wal"),
            str(state),
            str(tmp_path / "ckpt"),
            chunk_reader=reader,
        )
    assert not (state / "chunks").exists()


def test_snapshot_only_force_resnapshot(spark, tmp_path):
    """snapshot_only(resnapshot=True) ignores the _SUCCESS marker and
    rewrites (TestForceResnapshotOnlyMode)."""
    from go_pq_cdc_spark.engine import snapshot_only

    out = str(tmp_path / "snap")
    df1 = spark.range(0, 3)
    assert snapshot_only(df1, out) is True
    assert snapshot_only(df1, out) is False  # resume skips
    df2 = spark.range(0, 5)
    assert snapshot_only(df2, out, resnapshot=True) is True
    assert spark.read.parquet(out).count() == 5


def test_start_initial_lifecycle_multi_column(spark, tmp_path):
    """The start() lifecycle with a whole-row value schema: snapshot rows
    carry (name, qty), the stream TOAST-repairs each column independently
    across the handoff seam, and the mirror stores the full row."""
    import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)

    def run_sql(sql):
        if "pg_current_wal_lsn" in sql:
            return [("0/14",)]  # snapshot LSN = 20
        return []

    def snapshot_reader(table):
        return spark.createDataFrame(
            [Row(pk=10, name="alpha", qty=1), Row(pk=20, name="beta", qty=2)]
        )

    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()
    ts = datetime.datetime(2024, 1, 1)
    events = [
        # post-handoff: qty changes, name TOAST-unchanged (inherits snapshot)
        ("U", 25, 2, ts, 10, None, 11),
        # name changes, qty unchanged
        ("U", 30, 3, ts, 20, "beta2", None),
        ("I", 35, 4, ts, 30, "gamma", 3),
        ("D", 40, 5, ts, 30, None, None),
    ]
    pdf = pd.DataFrame(
        events, columns=["op", "lsn", "xid", "commit_ts", "pk", "name", "qty"]
    )
    pdf["qty"] = pdf["qty"].astype("Int64")  # keep NULLs without float64 coercion
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(wal_dir / "seg.parquet"),
        coerce_timestamps="us",
    )
    eng.config.snapshot_tables = ["public.users"]
    snapshot_lsn, q = eng.start(
        run_sql,
        str(wal_dir),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        chunk_reader=lambda t, _c: snapshot_reader(t),
        value_schema="name string, qty bigint",
    )
    assert snapshot_lsn == 20
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = {
        r["pk"]: (r["name"], r["qty"])
        for r in read_mirror(spark, str(tmp_path / "state")).collect()
    }
    assert state == {10: ("alpha", 11), 20: ("beta2", 2)}


def test_typed_mirror_from_wal2json_envelope(spark, tmp_path):
    """Envelope transport -> typed whole-row mirror end to end: wal2json
    docs decode JVM-side, the after image types per the declared schema,
    a TOAST-absent column inherits the stored value, and a DELETE (pk in
    the before image only) removes the key."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_pq_cdc_spark.sources.lsn_stream import segment_path
    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()

    def doc(action, pk, cols=None, identity=None):
        d = {
            "action": action,
            "schema": "public",
            "table": "users",
            "timestamp": "2024-01-01 00:00:00",
        }
        if cols is not None:
            d["columns"] = [
                {"name": k, "type": t, "value": v} for k, t, v in cols
            ]
        if identity is not None:
            d["identity"] = [
                {"name": k, "type": t, "value": v} for k, t, v in identity
            ]
        return json.dumps(d)

    rows = [
        (10, 1, doc("I", 1, cols=[("pk", "bigint", "1"), ("name", "text", "alpha"), ("qty", "bigint", "5")])),
        (11, 1, doc("I", 2, cols=[("pk", "bigint", "2"), ("name", "text", "beta"), ("qty", "bigint", "7")])),
        # TOAST: qty absent from the update's columns -> inherits 5
        (20, 2, doc("U", 1, cols=[("pk", "bigint", "1"), ("name", "text", "alpha2")])),
        # DELETE: pk only in the identity (before) image
        (30, 3, doc("D", 2, identity=[("pk", "bigint", "2")])),
    ]
    pdf = pd.DataFrame(rows, columns=["lsn", "xid", "data"])
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        segment_path(str(wal_dir), 10, 30),
    )
    q = eng.typed_multi_mirror(
        eng.raw_changes(str(wal_dir), plugin="wal2json"),
        str(tmp_path / "state"),
        str(tmp_path / "ck"),
        tables={"public.users": "name string, qty bigint"},
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = {
        r["pk"]: (r["name"], r["qty"])
        for r in read_mirror(spark, str(tmp_path / "state" / "public__users")).collect()
    }
    assert state == {1: ("alpha2", 5)}


def test_typed_multi_mirror_fanout(spark, tmp_path):
    """O17 typed fan-out: one envelope stream feeds two tables' whole-row
    mirrors, each typed per its own declared schema."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_pq_cdc_spark.sources.lsn_stream import segment_path
    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()

    def doc(action, table, cols):
        return json.dumps(
            {
                "action": action,
                "schema": "public",
                "table": table,
                "timestamp": "2024-01-01 00:00:00",
                "columns": [{"name": k, "type": "text", "value": v} for k, v in cols],
            }
        )

    rows = [
        (10, 1, doc("I", "users", [("pk", "1"), ("name", "ann")])),
        (11, 1, doc("I", "orders", [("pk", "7"), ("total", "99.5")])),
        (12, 2, doc("U", "users", [("pk", "1"), ("name", "ann2")])),
    ]
    pdf = pd.DataFrame(rows, columns=["lsn", "xid", "data"])
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        segment_path(str(wal_dir), 10, 12),
    )
    q = eng.typed_multi_mirror(
        eng.raw_changes(str(wal_dir), plugin="wal2json"),
        str(tmp_path / "state"),
        str(tmp_path / "ck"),
        tables={
            "public.users": "name string",
            "public.orders": "total double",
        },
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    users = {
        r["pk"]: r["name"]
        for r in read_mirror(spark, str(tmp_path / "state" / "public__users")).collect()
    }
    orders = {
        r["pk"]: r["total"]
        for r in read_mirror(spark, str(tmp_path / "state" / "public__orders")).collect()
    }
    assert users == {1: "ann2"}
    assert orders == {7: 99.5}


def test_resume_anchors_stream_at_stored_snapshot_lsn(spark, tmp_path):
    """Restart data-loss regression: run 1 snapshots at LSN 20 and
    completes; events land at LSN 25/30 while the app is down; run 2's
    fresh pg_current_wal_lsn has advanced to 4096. The resumed stream
    must anchor at the STORED seam (20), not the fresh watermark — the
    old behavior silently dropped everything in between."""
    import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    eng.config.snapshot_tables = ["public.users"]
    state, wal = str(tmp_path / "state"), tmp_path / "wal"
    wal.mkdir()
    lsn_now = {"v": "0/14"}  # 20

    def run_sql(sql):
        if "pg_current_wal_lsn" in sql:
            return [(lsn_now["v"],)]
        return []

    reader_calls = []

    def reader(t):
        reader_calls.append(t.qualified)
        return spark.createDataFrame([Row(pk=1, after_val=1.0)])

    # run 1: seed + drain an empty stream, then stop
    _, q = eng.start(run_sql, str(wal), state, str(tmp_path / "ck1"),
                     chunk_reader=lambda t, _c: reader(t))
    q.processAllAvailable()
    q.stop()
    assert reader_calls == ["public.users"]

    # app down: events 25/30 land in the WAL dir; watermark advances
    ts = datetime.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        [("U", 25, 1, ts, 1, 2.5), ("I", 30, 2, ts, 2, 3.0)],
        columns=["op", "lsn", "xid", "commit_ts", "pk", "after_val"],
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(wal / "seg2.parquet"),
        coerce_timestamps="us",
    )
    lsn_now["v"] = "0/1000"  # 4096

    # run 2: seed skipped (completed), stream anchored at stored LSN 20
    lsn2, q2 = eng.start(run_sql, str(wal), state, str(tmp_path / "ck2"),
                         chunk_reader=lambda t, _c: reader(t))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert reader_calls == ["public.users"]  # no re-seed
    assert lsn2 == 20  # the seam, not the fresh watermark
    state_rows = {
        r["pk"]: r["after_val"] for r in read_mirror(spark, state).collect()
    }
    assert state_rows == {1: 2.5, 2: 3.0}


def test_start_full_lifecycle_on_wal2json_transport(spark, tmp_path):
    """connector.Start on the REAL transport shape: snapshot seeds typed
    full rows at the handoff LSN; post-handoff wal2json documents decode,
    type, and merge — pre-handoff events drop, TOAST-absent columns
    inherit, DELETE removes."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from go_pq_cdc_spark.sources.lsn_stream import segment_path
    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    eng.config.snapshot_tables = ["public.users"]
    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()

    def run_sql(sql):
        if "pg_current_wal_lsn" in sql:
            return [("0/14",)]  # snapshot LSN = 20
        return []

    def reader(t):
        return spark.createDataFrame(
            [Row(pk=1, name="alpha", qty=5), Row(pk=2, name="beta", qty=7)]
        )

    def doc(action, cols=None, identity=None):
        d = {
            "action": action,
            "schema": "public",
            "table": "users",
            "timestamp": "2024-01-01 00:00:00",
        }
        if cols is not None:
            d["columns"] = [{"name": k, "type": t, "value": v} for k, t, v in cols]
        if identity is not None:
            d["identity"] = [{"name": k, "type": t, "value": v} for k, t, v in identity]
        return json.dumps(d)

    rows = [
        # pre-handoff (lsn 15): must be dropped, snapshot already covers it
        (15, 1, doc("U", cols=[("pk", "bigint", "1"), ("name", "text", "stale")])),
        # post-handoff: name updates, qty TOAST-absent -> inherits 5
        (25, 2, doc("U", cols=[("pk", "bigint", "1"), ("name", "text", "alpha2")])),
        (30, 3, doc("D", identity=[("pk", "bigint", "2")])),
    ]
    pdf = pd.DataFrame(rows, columns=["lsn", "xid", "data"])
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        segment_path(str(wal_dir), 15, 30),
    )
    lsn, q = eng.start(
        run_sql,
        str(wal_dir),
        str(tmp_path / "state"),
        str(tmp_path / "ck"),
        chunk_reader=lambda t, _c: reader(t),
        value_schema="name string, qty bigint",
        transport="wal2json",
        table="public.users",
    )
    assert lsn == 20
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = {
        r["pk"]: (r["name"], r["qty"])
        for r in read_mirror(spark, str(tmp_path / "state")).collect()
    }
    assert state == {1: ("alpha2", 5)}


def test_start_full_lifecycle_on_test_decoding_transport(spark, tmp_path):
    """connector.Start on the contrib text transport (the poll arm every
    PostgreSQL build ships): snapshot seeds typed rows at the handoff
    LSN; post-handoff test_decoding lines decode PER MICRO-BATCH inside
    the sink (the commit-ts stamp is an aggregate+join Structured
    Streaming rejects pre-sink), type, and merge — pre-handoff events
    drop, TOAST-unchanged columns inherit, DELETE removes."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from go_pq_cdc_spark.sources.lsn_stream import segment_path
    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    eng.config.snapshot_tables = ["public.users"]
    eng.config.slot_plugin = "test_decoding"
    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()

    seen_sql: list[str] = []

    def run_sql(sql):
        seen_sql.append(sql)
        if "pg_current_wal_lsn" in sql:
            return [("0/14",)]  # snapshot LSN = 20
        return []

    def reader(t):
        return spark.createDataFrame(
            [Row(pk=1, name="alpha", qty=5), Row(pk=2, name="beta", qty=7)]
        )

    rows = [
        # pre-handoff (lsn 15): dropped, snapshot already covers it
        (14, 1, "BEGIN 1"),
        (15, 1, "table public.users: UPDATE: pk[bigint]:1 name[text]:'stale' "
                "qty[bigint]:5"),
        (16, 1, "COMMIT 1 (at 2024-01-01 00:00:00+00)"),
        # post-handoff: name updates, qty TOAST-unchanged -> inherits 5
        (24, 2, "BEGIN 2"),
        (25, 2, "table public.users: UPDATE: pk[bigint]:1 name[text]:'alpha2' "
                "qty[bigint]:unchanged-toast-datum"),
        (26, 2, "COMMIT 2 (at 2024-01-01 00:00:01+00)"),
        (29, 3, "BEGIN 3"),
        (30, 3, "table public.users: DELETE: pk[bigint]:2"),
        (31, 3, "COMMIT 3 (at 2024-01-01 00:00:02+00)"),
    ]
    pdf = pd.DataFrame(rows, columns=["lsn", "xid", "data"])
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        segment_path(str(wal_dir), 14, 31),
    )
    lsn, q = eng.start(
        run_sql,
        str(wal_dir),
        str(tmp_path / "state"),
        str(tmp_path / "ck"),
        chunk_reader=lambda t, _c: reader(t),
        value_schema="name string, qty bigint",
        transport="test_decoding",
        table="public.users",
    )
    assert lsn == 20
    # the config's slot_plugin reached the slot-create DDL
    assert any("'test_decoding'" in s for s in seen_sql)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = {
        r["pk"]: (r["name"], r["qty"])
        for r in read_mirror(spark, str(tmp_path / "state")).collect()
    }
    assert state == {1: ("alpha2", 5)}


def test_start_cooperative_chunked_seed(spark, tmp_path):
    """O23 at chunk granularity through the ENGINE: chunk_planner switches
    the seed to the shared per-chunk claim queue; chunks are read with
    chunk_reader and merged; a second app restarting against the same
    state_dir finds the queue drained, re-seeds nothing, and adopts the
    FIRST app's published snapshot LSN as its stream anchor."""
    import os

    from pyspark.sql import Row

    from go_pq_cdc_spark.snapshot import chunk_queue as cq
    from go_pq_cdc_spark.snapshot.planner import plan_integer_range
    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    eng.config.snapshot_mode = "snapshot_only"
    eng.config.snapshot_tables = ["public.users"]

    source = spark.createDataFrame(
        [Row(pk=i, after_val=float(i)) for i in range(1, 41)]
    )
    reads: list[int] = []

    def chunk_planner(tcfg):
        assert tcfg.qualified == "public.users"
        return cq.manifest_from_plan(plan_integer_range("pk", 1, 40, chunk_size=10))

    def chunk_reader(tcfg, chunk):
        reads.append(chunk["chunk_index"])
        return source.filter(
            (source.pk >= chunk["range_start"]) & (source.pk <= chunk["range_end"])
        )

    def run_sql(sql):
        return [("0/64",)] if "pg_current_wal_lsn" in sql else []  # lsn 100

    state_dir = str(tmp_path / "state")
    lsn, q = eng.start(
        run_sql,
        str(tmp_path / "wal"),
        state_dir,
        str(tmp_path / "ckpt"),
        chunk_planner=chunk_planner,
        chunk_reader=chunk_reader,
    )
    assert q is None and lsn == 100
    assert sorted(reads) == [0, 1, 2, 3]  # every chunk read exactly once
    qdir = os.path.join(state_dir, "chunks", "public__users")
    assert cq.all_chunks_completed(qdir)
    state = {
        r["pk"]: (r["after_val"], r["lsn"])
        for r in read_mirror(spark, state_dir).collect()
    }
    assert state == {i: (float(i), 100) for i in range(1, 41)}

    # app 2 restarts later with a DIFFERENT current wal lsn: queue is
    # drained -> no re-read; the PUBLISHED lsn (100) is adopted
    eng2 = _engine(spark)
    eng2.config.snapshot_mode = "snapshot_only"
    eng2.config.snapshot_tables = ["public.users"]
    lsn2, q2 = eng2.start(
        lambda sql: [("0/C8",)] if "pg_current_wal_lsn" in sql else [],  # 200
        str(tmp_path / "wal"),
        state_dir,
        str(tmp_path / "ckpt2"),
        chunk_planner=chunk_planner,
        chunk_reader=chunk_reader,
    )
    assert q2 is None and lsn2 == 100  # shared handoff point, not 200
    assert sorted(reads) == [0, 1, 2, 3]  # nothing re-read


def test_cooperative_seed_anchors_at_min_published_lsn(spark, tmp_path):
    """Review r7: with several tables, the queues can be published by
    different apps at different WAL positions; the single stream filter
    must anchor at the MINIMUM published LSN or the earlier table's
    events in between are silently dropped."""
    import os

    from pyspark.sql import Row

    from go_pq_cdc_spark.snapshot import chunk_queue as cq
    from go_pq_cdc_spark.snapshot.planner import plan_integer_range

    cfg = EngineConfig(
        tables=[TableConfig("t1"), TableConfig("t2")], heartbeat_enabled=False
    )
    eng = CdcEngine(cfg, spark)
    eng.config.snapshot_mode = "snapshot_only"

    state_dir = str(tmp_path / "state")
    # a crashed peer already published t1's queue at LSN 50
    cq.init_chunk_queue(
        os.path.join(state_dir, "chunks", "public__t1"),
        cq.manifest_from_plan(plan_integer_range("pk", 1, 4, chunk_size=4)),
        meta={"snapshot_lsn": 50},
    )
    source = spark.createDataFrame([Row(pk=i, after_val=float(i)) for i in (1, 2)])
    lsn, _q = eng.start(
        lambda sql: [("0/64",)] if "pg_current_wal_lsn" in sql else [],  # 100
        str(tmp_path / "wal"),
        state_dir,
        str(tmp_path / "ckpt"),
        chunk_planner=lambda tcfg: cq.manifest_from_plan(
            plan_integer_range("pk", 1, 4, chunk_size=4)
        ),
        chunk_reader=lambda tcfg, chunk: source,
    )
    assert lsn == 50  # min(published t1=50, freshly-published t2=100)


def test_cooperative_seed_resumes_partial_queue(spark, tmp_path):
    """A cooperating app joining a PARTIALLY drained queue (a peer
    already completed some chunks) must read only the remaining chunks —
    never re-reading completed ones."""
    import os

    from pyspark.sql import Row

    from go_pq_cdc_spark.snapshot import chunk_queue as cq
    from go_pq_cdc_spark.snapshot.planner import plan_integer_range
    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    eng.config.snapshot_mode = "snapshot_only"
    eng.config.snapshot_tables = ["public.users"]
    state_dir = str(tmp_path / "state")

    chunks = cq.manifest_from_plan(plan_integer_range("pk", 1, 40, chunk_size=10))
    qdir = os.path.join(state_dir, "chunks", "public__users")
    cq.init_chunk_queue(qdir, chunks, meta={"snapshot_lsn": 77})
    # a peer already did chunks 0 and 2 (its rows are already merged —
    # simulate with done markers; the mirror side is the peer's concern).
    # Claims walk in index order, so hold chunk 1 while completing 0 and 2.
    c0 = cq.claim_next_chunk(qdir, "peer")
    hold1 = cq.claim_next_chunk(qdir, "peer")
    c2 = cq.claim_next_chunk(qdir, "peer")
    assert (c0.index, hold1.index, c2.index) == (0, 1, 2)
    c0.complete(rows_processed=10)
    c2.complete(rows_processed=10)
    hold1.release()

    source = spark.createDataFrame(
        [Row(pk=i, after_val=float(i)) for i in range(1, 41)]
    )
    reads: list[int] = []

    def chunk_reader(tcfg, chunk):
        reads.append(chunk["chunk_index"])
        return source.filter(
            (source.pk >= chunk["range_start"]) & (source.pk <= chunk["range_end"])
        )

    lsn, _q = eng.start(
        lambda sql: [("0/64",)] if "pg_current_wal_lsn" in sql else [],
        str(tmp_path / "wal"),
        state_dir,
        str(tmp_path / "ckpt"),
        chunk_planner=lambda tcfg: chunks,
        chunk_reader=chunk_reader,
    )
    assert lsn == 77  # published by the queue initializer, adopted
    assert sorted(reads) == [1, 3]  # ONLY the remaining chunks
    state = {r["pk"] for r in read_mirror(spark, state_dir).collect()}
    assert state == set(range(11, 21)) | set(range(31, 41))


def test_start_checks_inputs_before_any_ddl(spark, tmp_path):
    """A bad transport, a typed transport without `table=`, an unmounted
    URI state dir, and an unknown or clashing mirror option all raise
    before the first statement reaches the server."""
    import pytest

    from go_pq_cdc_spark.snapshot.claim_backend import DEFAULT_BACKEND

    eng = _engine(spark)
    executed: list[str] = []

    def run_sql(sql):
        executed.append(sql)
        return [("0/14",)] if "pg_current_wal_lsn" in sql else []

    def reader(_t, _c):
        raise AssertionError("a rejected start() must not seed")

    args = (run_sql, str(tmp_path / "wal"), str(tmp_path / "state"),
            str(tmp_path / "ckpt"))
    bad = [
        (ValueError, "unknown transport", {"transport": "kafka"}),
        (ValueError, "requires table=", {"transport": "envelope"}),
        (TypeError, "mirror_buckets", {"mirror_buckets": 8}),
        (TypeError, "backend", {"backend": DEFAULT_BACKEND}),
        (TypeError, "claim_backend", {"claim_backend": DEFAULT_BACKEND}),
        (TypeError, "value_cols", {"value_cols": ("after_val",)}),
    ]
    for exc, match, kw in bad:
        with pytest.raises(exc, match=match):
            eng.start(*args, chunk_reader=reader, **kw)
        assert executed == [], kw
    assert not (tmp_path / "state").exists()
    with pytest.raises(ValueError, match="mount"):
        eng.start(run_sql, args[1], "s3a://unmounted/state", args[3],
                  chunk_reader=reader)
    assert executed == []


def test_start_view_over_fresh_multi_column_mirror(spark, tmp_path):
    """snapshot_mode="never" with a view on one column of a multi-column
    value schema: the mirror has no manifest when the sink starts, so
    view version 0 is seeded empty instead of being read through the
    default `after_val double` row shape, which has no `qty`."""
    import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_pq_cdc_spark.streaming.agg_view_stream import read_agg_view

    eng = CdcEngine(
        EngineConfig(
            tables=[TableConfig("users"), TableConfig("cdc_heartbeat")],
            snapshot_mode="never",
        ),
        spark,
    )

    def run_sql(sql):
        return [("0/14",)] if "pg_current_wal_lsn" in sql else []  # LSN 20

    wal_dir = tmp_path / "wal"
    wal_dir.mkdir()
    ts = datetime.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        [("I", 25, 2, ts, 10, "a", 9.75), ("I", 30, 3, ts, 30, "b", 12.60)],
        columns=["op", "lsn", "xid", "commit_ts", "pk", "name", "qty"],
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(wal_dir / "seg.parquet"),
        coerce_timestamps="us",
    )
    view_dir = str(tmp_path / "view")
    _, q = eng.start(
        run_sql,
        str(wal_dir),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        value_schema="name string, qty double",
        view_state_dir=view_dir,
        view_value_col="qty",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["grp"]: (r["n_keys"], r["sum_val"])
        for r in read_agg_view(spark, view_dir).collect()
    }
    # floor(9.75) % 8 = 1, floor(12.60) % 8 = 4
    assert got == {1: (1, 9.75), 4: (1, 12.60)}


def test_start_seeds_only_the_mirrored_table(spark, tmp_path):
    """A typed transport mirrors one table, so the seed reads only that
    table — never the heartbeat table the config must also publish."""
    from pyspark.sql import Row

    from go_pq_cdc_spark.streaming import read_mirror

    eng = _engine(spark)
    eng.config.snapshot_mode = "snapshot_only"
    assert eng.config.heartbeat_enabled and eng.config.snapshot_tables is None
    reads: list[str] = []

    def reader(t, _c):
        reads.append(t.qualified)
        return spark.createDataFrame([Row(pk=1, after_val=0.5)])

    state_dir = str(tmp_path / "state")
    lsn, q = eng.start(
        lambda sql: [("0/A",)] if "pg_current_wal_lsn" in sql else [],
        str(tmp_path / "wal"),
        state_dir,
        str(tmp_path / "ckpt"),
        chunk_reader=reader,
        transport="envelope",
        table="public.users",
    )
    assert (lsn, q) == (10, None)
    assert reads == ["public.users"]
    assert {r["pk"]: r["after_val"] for r in read_mirror(spark, state_dir).collect()} == {1: 0.5}


def _gated_start(spark, tmp_path, reader, **mirror):
    """`start` on the envelope transport with a fake server at snapshot
    LSN 20, seeding public.users through `reader`."""
    eng = _engine(spark)
    wal_dir = tmp_path / "wal"
    wal_dir.mkdir(exist_ok=True)
    lsn, q = eng.start(
        lambda sql: [("0/14",)] if "pg_current_wal_lsn" in sql else [],
        str(wal_dir),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        chunk_reader=reader,
        transport="envelope",
        table="public.users",
        **mirror,
    )
    assert lsn == 20
    return eng, q


def _seed_rows(spark):
    from pyspark.sql import Row

    return spark.createDataFrame([Row(pk=10, after_val=1.0), Row(pk=20, after_val=2.0)])


def test_start_gates_stream_merges_behind_the_seed(spark, tmp_path):
    """The stream starts before the seed drains. A segment written during
    the drain deletes a seeded key above the snapshot LSN; its batch waits
    at the gate, so its merge lands after the seed's and the key stays
    deleted (the fold keeps no tombstones: merged first, the delete would
    be undone by the seed row)."""
    import time

    from go_pq_cdc_spark.sources.slot_keeper import write_envelope_segment
    from go_pq_cdc_spark.streaming import read_mirror, read_mirror_as_of
    from go_pq_cdc_spark.streaming.changelog_stream import _read_manifest

    def reader(_t, _c):
        delete = {"op": "D", "lsn": 30, "xid": 7, "commit_ts_us": 0,
                  "schema": "public", "table": "users",
                  "before": {"pk": "20"}, "after": None}
        write_envelope_segment(str(tmp_path / "wal"), 21, [delete])
        # hold the seed until the live query has a batch in flight, and
        # then long enough for that batch to commit if nothing held it
        deadline = time.time() + 30
        while time.time() < deadline and not any(
            q.status["isTriggerActive"] for q in spark.streams.active
        ):
            time.sleep(0.05)
        deadline = time.time() + 8
        while time.time() < deadline and not (tmp_path / "state" / "manifest.json").exists():
            time.sleep(0.05)
        return _seed_rows(spark)

    _eng, q = _gated_start(spark, tmp_path, reader, keep_epochs=8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = str(tmp_path / "state")
    assert {r["pk"] for r in read_mirror(spark, state).collect()} == {10}
    # epoch 0 is the seed's, with both rows; the delete came later
    assert {r["pk"] for r in read_mirror_as_of(spark, state, 0).collect()} == {10, 20}
    assert _read_manifest(state)["epoch"] > 0


def test_start_seed_error_stops_the_query(spark, tmp_path):
    """A chunk reader that raises makes `start` raise that error, and the
    query started before the drain is stopped, not left running."""
    import pytest

    before = {q.id for q in spark.streams.active}

    def reader(_t, _c):
        raise OSError("chunk read failed")

    with pytest.raises(OSError, match="chunk read failed"):
        _gated_start(spark, tmp_path, reader)
    assert {q.id for q in spark.streams.active} == before


def test_start_view_version_0_counts_the_seed(spark, tmp_path):
    """The view's version 0 is taken at the first batch, after the gate,
    so it reads the seeded mirror even though the query started before
    the seed."""
    from go_pq_cdc_spark.streaming.agg_view_stream import latest_version, read_agg_view

    view_dir = str(tmp_path / "view")
    _eng, q = _gated_start(
        spark, tmp_path, lambda _t, _c: _seed_rows(spark), view_state_dir=view_dir
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert latest_version(view_dir) == 0  # the first batch is empty
    got = {r["grp"]: (r["n_keys"], r["sum_val"]) for r in read_agg_view(spark, view_dir).collect()}
    assert got == {1: (1, 1.0), 2: (1, 2.0)}


def test_start_first_empty_batch_runs_no_spark_job(spark, tmp_path):
    """Spark runs batch 0 over an empty segment log (range (-1, -1]). It
    commits a manifest-only epoch, pins included, without a Spark job."""
    from go_pq_cdc_spark.streaming import read_mirror_as_of
    from go_pq_cdc_spark.streaming.changelog_stream import _read_manifest

    _eng, q = _gated_start(spark, tmp_path, lambda _t, _c: _seed_rows(spark), keep_epochs=4)
    try:
        q.processAllAvailable()
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    finally:
        q.stop()
    assert q.lastProgress["batchId"] == 0 and q.lastProgress["numInputRows"] == 0
    assert list(jobs) == []
    state = str(tmp_path / "state")
    manifest = _read_manifest(state)
    assert manifest["epoch"] == 1 and manifest["value_schema"] == "after_val double"
    assert {r["pk"] for r in read_mirror_as_of(spark, state, 1).collect()} == {10, 20}


def test_start_phases_reach_metrics(spark, tmp_path):
    """`start` times its phases on the engine, and the status server's
    /metrics exports them, `gate_to_first_commit` once the gated query's
    first batch has committed."""
    import time
    import urllib.request

    eng = _engine(spark)
    srv = eng.status_server()
    try:
        wal_dir = tmp_path / "wal"
        wal_dir.mkdir()
        _lsn, q = eng.start(
            lambda sql: [("0/14",)] if "pg_current_wal_lsn" in sql else [],
            str(wal_dir), str(tmp_path / "state"), str(tmp_path / "ckpt"),
            chunk_reader=lambda _t, _c: _seed_rows(spark),
            transport="envelope", table="public.users",
        )
        try:
            q.processAllAvailable()
            deadline = time.time() + 30  # progress events arrive asynchronously
            while "gate_to_first_commit" not in eng.start_phases and time.time() < deadline:
                time.sleep(0.05)
        finally:
            q.stop()
        body = urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/metrics").read().decode()
    finally:
        srv.stop()
    phases = ("ddl", "publish", "stream_start", "seed_drain", "gate_to_first_commit")
    assert set(eng.start_phases) == set(phases)
    for phase in phases:
        assert eng.start_phases[phase] >= 0
        assert f'go_pq_cdc_spark_start_phase_seconds{{phase="{phase}"}}' in body


def test_start_masks_a_dropped_column_from_its_drop_epoch(spark, tmp_path):
    """DROP COLUMN through `start(transport="envelope", evolve_schema=True)`:
    a Relation re-send without `score` makes the typing step return
    `score` in its drop list, the merge masks it from that epoch on, and
    time travel to the epoch before the drop still serves the stored
    values."""
    import struct

    from go_pq_cdc_spark.sources.pgoutput import XLogData
    from go_pq_cdc_spark.sources.slot_keeper import pump_frames
    from go_pq_cdc_spark.streaming import read_mirror, read_mirror_as_of
    from go_pq_cdc_spark.streaming.changelog_stream import _read_manifest

    from .test_pgoutput import insert_msg, relation_msg, tup

    def xlog(lsn, payload):
        return XLogData(lsn, lsn, 0, payload)

    wal = str(tmp_path / "wal")
    state = str(tmp_path / "state")
    pump_frames(
        [
            xlog(10, relation_msg(cols=(
                ("pk", 20, True), ("name", 25, False), ("score", 23, False),
            ))),
            xlog(11, b"B" + struct.pack(">QqI", 30, 5, 900)),
            xlog(12, insert_msg(vals=("1", "alice", "5"))),
            xlog(13, insert_msg(vals=("2", "bob", "6"))),
            xlog(30, b"C" + struct.pack(">bQQq", 0, 30, 31, 5)),
        ],
        wal,
        batch_rows=1,
    )
    eng = _engine(spark)
    eng.config.snapshot_tables = ["public.users"]
    _lsn, q = eng.start(
        lambda sql: [("0/5",)] if "pg_current_wal_lsn" in sql else [],
        wal,
        state,
        str(tmp_path / "ckpt"),
        chunk_reader=lambda _t, _c: spark.createDataFrame(
            [], "pk bigint, name string, score int"
        ),
        value_schema="name string, score int",
        transport="envelope",
        table="public.users",
        evolve_schema=True,
        keep_epochs=8,
    )
    try:
        q.processAllAvailable()
        before_drop = _read_manifest(state)["epoch"]
        # ALTER TABLE users DROP COLUMN score -> Relation re-send, then an
        # UPDATE whose tuples no longer carry the column
        pump_frames(
            [
                xlog(70, relation_msg(cols=(("pk", 20, True), ("name", 25, False)))),
                xlog(71, b"B" + struct.pack(">QqI", 90, 6, 901)),
                xlog(72, b"U" + struct.pack(">I", 16384) + b"N" + tup("1", "alice2")),
                xlog(90, b"C" + struct.pack(">bQQq", 0, 90, 91, 6)),
            ],
            wal,
            batch_rows=1,
        )
        q.processAllAvailable()
    finally:
        q.stop()
    cur = {r["pk"]: (r["name"], r["score"]) for r in read_mirror(spark, state).collect()}
    # pk=2 is untouched since the drop: its stored score is masked too
    assert cur == {1: ("alice2", None), 2: ("bob", None)}
    old = {
        r["pk"]: (r["name"], r["score"])
        for r in read_mirror_as_of(spark, state, before_drop).collect()
    }
    assert old == {1: ("alice", 5), 2: ("bob", 6)}
