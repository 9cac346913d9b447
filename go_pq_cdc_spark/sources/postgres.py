"""PostgreSQL transport: partitioned JDBC snapshot reads + logical-slot /
publication / heartbeat management DDL + a poll-based change reader.

This is the production seam of the engine (reference O1, O9-O16, O25-O27).
The container has no PostgreSQL server and no JDBC driver jar, so these
functions are exercised by SQL-generation unit tests; the DataFrame surface
they produce is byte-identical to the parquet transport used by the
correctness gate (SURVEY.md §7: planner abstracts partition spec from
transport).

Consistency note (SURVEY.md §7 'hard parts'): Spark JDBC opens one
connection per partition. `snapshot_jdbc_options` therefore emits a
`sessionInitStatement` running `SET TRANSACTION SNAPSHOT '<id>'` so every
partition reads the SAME exported snapshot — the Spark equivalent of the
reference's worker setup (`pq/snapshot/transaction_snapshot.go:44-54`).
"""

from __future__ import annotations

from dataclasses import dataclass

from ..config import EngineConfig, TableConfig
from ..snapshot.planner import SnapshotPlan, Strategy


@dataclass
class PostgresConnection:
    host: str
    port: int
    database: str
    user: str
    password: str

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:postgresql://{self.host}:{self.port}/{self.database}"


# --- O25: replication-slot lifecycle (pq/slot/slot.go) ---------------------


def create_slot_sql(slot_name: str, plugin: str = "pgoutput") -> str:
    """`pq/slot/slot.go:94-114` — created BEFORE the snapshot so WAL from
    that point is pinned (O28 ordering, connector.go:352-357). The polling
    transport (`slot_keeper`) uses plugin='wal2json' (text-mode JSON);
    pgoutput is binary and only usable over START_REPLICATION."""
    return (
        f"SELECT pg_create_logical_replication_slot('{slot_name}', '{plugin}') "
        f"WHERE NOT EXISTS (SELECT 1 FROM pg_replication_slots WHERE slot_name = '{slot_name}')"
    )


def slot_status_sql(slot_name: str) -> str:
    """Lag/retained-WAL metrics by LSN subtraction (slot.go:127-148)."""
    return (
        "SELECT slot_name, active, restart_lsn, confirmed_flush_lsn, "
        "pg_current_wal_lsn() AS current_lsn, "
        "pg_wal_lsn_diff(pg_current_wal_lsn(), confirmed_flush_lsn) AS lag_bytes, "
        "pg_wal_lsn_diff(pg_current_wal_lsn(), restart_lsn) AS retained_wal_bytes "
        f"FROM pg_replication_slots WHERE slot_name = '{slot_name}'"
    )


def current_wal_lsn_sql() -> str:
    return "SELECT pg_current_wal_lsn()"


# --- O26: publication management (pq/publication/) -------------------------


def create_publication_sql(cfg: EngineConfig) -> str:
    """`publication/config.go:40-61`: FOR TABLE list with optional column
    lists (or FOR ALL TABLES, `publication/config.go:16` AllTables),
    publish= op subset, publish_via_partition_root."""
    via_root = "true" if any(t.partitioned for t in cfg.tables) else "false"
    if cfg.all_tables:
        scope = "FOR ALL TABLES"
    else:
        parts = []
        for t in cfg.tables:
            cols = f" ({', '.join(t.columns)})" if t.columns else ""
            parts.append(f"{t.qualified}{cols}")
        scope = f"FOR TABLE {', '.join(parts)}"
    return (
        f"CREATE PUBLICATION {cfg.publication_name} {scope} "
        f"WITH (publish = '{', '.join(cfg.publish_ops)}', "
        f"publish_via_partition_root = {via_root})"
    )


def replica_identity_sql(table: TableConfig) -> str:
    """`publication/replica_identity.go:78-99` AlterTableReplicaIdentity:
    DEFAULT/FULL/NOTHING render directly; INDEX renders USING INDEX with
    the configured index name."""
    ri = table.replica_identity
    if ri == "INDEX":
        return (
            f"ALTER TABLE {table.qualified} "
            f"REPLICA IDENTITY USING INDEX {table.replica_identity_index}"
        )
    return f"ALTER TABLE {table.qualified} REPLICA IDENTITY {ri}"


# --- O27: heartbeat (pq/heartbeat/heartbeat.go) ----------------------------


def heartbeat_ensure_sql(cfg: EngineConfig) -> list[str]:
    """Single-row heartbeat table (heartbeat.go:40-93)."""
    tbl = f"{cfg.heartbeat_schema}.{cfg.heartbeat_table}"
    return [
        f"CREATE TABLE IF NOT EXISTS {tbl} ("
        "id int PRIMARY KEY CHECK (id = 1), last_heartbeat timestamptz)",
        f"INSERT INTO {tbl} (id, last_heartbeat) VALUES (1, NOW()) ON CONFLICT (id) DO NOTHING",
    ]


def heartbeat_tick_sql(cfg: EngineConfig) -> str:
    """Periodic WAL-advancing write (heartbeat.go:96-171)."""
    tbl = f"{cfg.heartbeat_schema}.{cfg.heartbeat_table}"
    return f"UPDATE {tbl} SET last_heartbeat = NOW() WHERE id = 1 RETURNING 1"


# --- O9-O16: chunked snapshot over JDBC ------------------------------------


def chunk_query(
    table: TableConfig,
    chunk_where: str,
    condition: str | None = None,
) -> str:
    """SELECT for one chunk: column projection (O15) + chunk predicate
    (O10-O12) + queryCondition (O16, `coordinator.go:460-490`)."""
    cols = ", ".join(table.columns) if table.columns else "*"
    where = chunk_where
    if condition:
        where = f"({where}) AND ({condition})"
    return f"SELECT {cols} FROM {table.qualified} WHERE {where}"


def snapshot_jdbc_options(
    conn: PostgresConnection,
    table: TableConfig,
    plan: SnapshotPlan,
    snapshot_id: str | None = None,
    condition: str | None = None,
) -> dict:
    """Options for ``spark.read.format('jdbc').options(**...)`` with one
    partition per planner chunk.

    integer-range plans use partitionColumn bounds (Spark generates the
    same BETWEEN predicates the reference builds); ctid/offset plans use
    the explicit predicates list. `sessionInitStatement` pins every
    partition connection to the exported snapshot.

    CAVEAT (unverifiable in this container — no JDBC jar ships with
    Spark): the JDBC driver may toggle autocommit around
    `sessionInitStatement`, which would silently void `SET TRANSACTION
    SNAPSHOT` (a pin outside an open transaction is a no-op WARNING, not
    an error) and break the no-gap-no-dup handoff invariant with no
    signal. Deployments using JDBC MUST run `snapshot_pin_probe_options`
    through the same JDBC read path first and assert the probe sees the
    exported snapshot before trusting a production snapshot read.

    DEFAULT PATH: prefer `sources.snapshot_socket.snapshot_socket_read`
    — the distributed snapshot over this repo's own wire client, whose
    explicit BEGIN + SET TRANSACTION SNAPSHOT pinning is live-verified
    (tests/test_live_postgres.py) and which needs no jar at all. Use the
    JDBC arm only where an operator mandates it, and then only probed."""
    opts = {
        "url": conn.jdbc_url,
        "user": conn.user,
        "password": conn.password,
        "fetchsize": "10000",
    }
    if snapshot_id:
        opts["sessionInitStatement"] = (
            "BEGIN TRANSACTION ISOLATION LEVEL REPEATABLE READ; "
            f"SET TRANSACTION SNAPSHOT '{snapshot_id}'"
        )
    cols = ", ".join(table.columns) if table.columns else "*"
    base = f"SELECT {cols} FROM {table.qualified}"
    if condition:
        base += f" WHERE {condition}"
    opts["dbtable"] = f"({base}) AS snapshot_src"
    if plan.strategy is Strategy.INTEGER_RANGE and plan.chunks:
        opts.update(
            partitionColumn=plan.pk_column,
            lowerBound=str(plan.chunks[0].range_start),
            upperBound=str(plan.chunks[-1].range_end),
            numPartitions=str(len(plan.chunks)),
        )
    return opts


def snapshot_pin_probe_options(
    conn: PostgresConnection, snapshot_id: str, n_partitions: int = 4
) -> dict:
    """Preflight check for the snapshot-pinning caveat above: a tiny JDBC
    read whose rows report each partition connection's actual snapshot
    (`pg_current_snapshot()`, PG13+) and backend pid. Run it with the SAME
    sessionInitStatement as the real read; if any row's snapshot differs
    from the coordinator's exported one, the driver voided the pin — abort
    the snapshot rather than read an inconsistent image.

        probe = spark.read.format("jdbc").options(
            **snapshot_pin_probe_options(conn, sid)).load()
        assert probe.select("cur_snapshot").distinct().count() == 1
    """
    return {
        "url": conn.jdbc_url,
        "user": conn.user,
        "password": conn.password,
        "sessionInitStatement": (
            "BEGIN TRANSACTION ISOLATION LEVEL REPEATABLE READ; "
            f"SET TRANSACTION SNAPSHOT '{snapshot_id}'"
        ),
        "dbtable": (
            "(SELECT g AS probe_id, CAST(pg_current_snapshot() AS text) AS cur_snapshot, "
            "pg_backend_pid() AS backend_pid FROM generate_series(1, "
            f"{n_partitions}) g) AS pin_probe"
        ),
        "partitionColumn": "probe_id",
        "lowerBound": "1",
        "upperBound": str(n_partitions),
        "numPartitions": str(n_partitions),
    }


def snapshot_offset_dbtables(
    table: TableConfig, plan: SnapshotPlan, condition: str | None = None
) -> list[str]:
    """One JDBC `dbtable` subquery per OFFSET chunk (the reference's
    `createOffsetChunksWithConn` SELECT shape, coordinator.go:922-969):

        (SELECT cols FROM t [WHERE cond] ORDER BY ctid LIMIT n OFFSET m) AS chunk_i

    The caller issues one single-partition JDBC read per entry and unions
    them (each read is lazy; the loop is plan metadata, not data). The
    deterministic ORDER BY is what makes disjoint OFFSET windows a
    partition of the table — all inside ONE pinned snapshot, or rows could
    migrate between windows."""
    if plan.strategy is not Strategy.OFFSET:
        raise ValueError("snapshot_offset_dbtables requires an OFFSET plan")
    return [
        offset_chunk_subquery(
            table, c.where, c.limit, c.offset, c.index, condition
        )
        for c in plan.chunks
    ]


def offset_chunk_subquery(
    table: TableConfig,
    sentinel_where: str,
    limit: int,
    offset: int,
    index: int,
    condition: str | None = None,
) -> str:
    """ONE OFFSET chunk as a dbtable subquery — the single renderer of the
    planner's `__offset_chunk__ ORDER BY ...` sentinel, shared by the
    JDBC per-plan path (`snapshot_offset_dbtables`) and the cooperative
    per-chunk reader (`snapshot_socket.cooperative_chunk_sql`) so the
    quoting/condition/sentinel grammar can never drift between them
    (review r9)."""
    cols = ", ".join(table.columns) if table.columns else "*"
    where = f" WHERE {condition}" if condition else ""
    order_by = sentinel_where.split(" ORDER BY ", 1)[1].split(" LIMIT ", 1)[0]
    return (
        f"(SELECT {cols} FROM {table.qualified}{where} ORDER BY {order_by} "
        f"LIMIT {limit} OFFSET {offset}) AS chunk_{index}"
    )


# --- O1 pragmatic transport: poll the slot through SQL ---------------------


def poll_changes_sql(
    slot_name: str,
    tables: list[str] | None = None,
    upto_lsn: str | None = None,
    limit: int = 10000,
    plugin: str = "wal2json",
) -> str:
    """Poll-based change transport over a text-mode logical slot (the
    pgoutput plugin is binary and cannot go through the text `get/peek`
    functions, and `proto_version`/`publication_names` are pgoutput options
    the text plugins reject). PEEK, not GET: the poll must not consume —
    `confirmed_flush_lsn` advances only after the segment is durably
    written (`advance_slot_sql`), the reference's ack-after-delivery
    contract (stream.go:718-733) on polling transport.

    `plugin` selects the slot's decoder and its options:
      - "wal2json" (production): format-version 2 (one JSON doc per action
        with B/C txn markers), include-xids, include-timestamp; `tables`
        maps to wal2json's add-tables filter (wal2json has no publication
        awareness). Decoded by `sources.wal2json.decode_wal2json`.
      - "test_decoding" (contrib, in every PostgreSQL build): include-xids
        + include-timestamp text lines, decoded by
        `sources.test_decoding.decode_test_decoding`. No server-side table
        filter exists — `tables` is applied client-side after decode."""
    upto = f"'{upto_lsn}'::pg_lsn" if upto_lsn else "NULL"
    if plugin == "wal2json":
        opts = [
            "'format-version', '2'",
            "'include-xids', '1'",
            "'include-timestamp', '1'",
        ]
        if tables:
            opts.append(f"'add-tables', '{','.join(tables)}'")
    elif plugin == "test_decoding":
        opts = [
            "'include-xids', '1'",
            "'include-timestamp', '1'",
        ]
    else:
        raise ValueError(f"unknown poll plugin {plugin!r}")
    return (
        f"SELECT lsn, xid, data FROM pg_logical_slot_peek_changes("
        f"'{slot_name}', {upto}, {limit}, {', '.join(opts)})"
    )


def advance_slot_sql(slot_name: str, upto_lsn: str) -> str:
    """Move `confirmed_flush_lsn` forward once polled changes are durably
    in the segment log — the standby-status-update analogue for the polling
    transport (peek + explicit advance = at-least-once; a keeper crash
    between peek and advance only re-reads)."""
    return f"SELECT pg_replication_slot_advance('{slot_name}', '{upto_lsn}'::pg_lsn)"


# --- O25 active/passive failover: slot capture ------------------------------


def capture_slot(
    status_fn,
    poll_interval_s: float = 1.0,
    timeout_s: float | None = None,
    sleep=None,
) -> dict:
    """Block until the replication slot is inactive, then return its status
    — the reference's passive-instance takeover loop (`connector.go:631-652`
    polls pg_replication_slots once a second until `active` is false, then
    this instance starts replication; a crash of the active instance frees
    the slot and the passive one takes over).

    `status_fn` runs `slot_status_sql` against the server and returns a
    dict with at least {'active': bool}. Raises TimeoutError on timeout."""
    import time as _time

    sleep = sleep or _time.sleep
    waited = 0.0
    while True:
        status = status_fn()
        if not status.get("active"):
            return status
        if timeout_s is not None and waited >= timeout_s:
            raise TimeoutError(f"slot still active after {timeout_s}s")
        sleep(poll_interval_s)
        waited += poll_interval_s
