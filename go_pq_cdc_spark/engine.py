"""User-facing engine facade — the Spark-native equivalent of the
reference's `cdc.NewConnector(ctx, cfg, handler) / connector.Start(ctx)`
(`connector.go:57-142`, SURVEY.md §3).

Where the reference delivers events to a callback, this engine delivers
DataFrames: the snapshot is a partitioned batch read, the change feed is a
Structured Streaming DataFrame, and the 'handler' becomes either normal
DataFrame code over those or a maintained current-state mirror table.

    cfg = EngineConfig(tables=[TableConfig("users"), TableConfig("cdc_heartbeat")])
    eng = CdcEngine(cfg, spark)

    eng.setup_sql()                  # DDL to run against Postgres once
    df  = eng.snapshot_df(...)       # consistent chunk-parallel snapshot
    st  = eng.changes(dir)           # streaming change events
    q   = mirror_sink(st, state, ck) # maintained mirror (streaming)
    cur = eng.current_state(state)   # the mirror as a DataFrame

One-call lifecycle (the reference's `connector.Start`):

    eng.replicate(wal_dir, host=..., port=5432, user=..., database=...)
        # transport: START_REPLICATION socket -> envelope segments,
        # reconnect-with-backoff, durable-log resume  (own thread/process)
    lsn, q = eng.start(run_sql, wal_dir, state_dir, ckpt_dir,
                       chunk_reader=...)
        # DDL -> the stream starts while the snapshot seeds the mirror
        # at the handoff LSN -> post-handoff changes merge after the seed
"""

from __future__ import annotations

import inspect
import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .config import EngineConfig, TableConfig
from .envelope import ddl_struct
from .snapshot.claim_backend import backend_for
from .snapshot.planner import SnapshotPlan, plan_auto
from .sources import postgres as pg
from .streaming.changelog_stream import file_change_stream, mirror_sink

_log = logging.getLogger(__name__)

_TRANSPORTS = ("flat", "envelope", "wal2json", "test_decoding")
# the mirror_sink arguments `start` supplies itself; every other
# mirror_sink keyword reaches it unchanged through `start(**mirror)`
_OWN_SINK_ARGS = ("value_cols", "transform", "evolve_schema")


class CdcEngine:
    def __init__(self, config: EngineConfig, spark: SparkSession):
        config.validate()
        self.config = config
        self.spark = spark
        # wall seconds of the last `start`'s phases, by phase name;
        # `status_server` exports them (see `start`)
        self.start_phases: dict[str, float] = {}
        # (query id, perf_counter) when the last `start` opened its gate
        self.gate_opened: tuple[str, float] | None = None

    # -- management plane (O25-O27): DDL the operator executes against PG --

    def setup_sql(self) -> list[str]:
        """Ordered setup statements: heartbeat ensure → publication create →
        replica-identity reconciliation → slot create (slot LAST here, but
        BEFORE any snapshot — O28's WAL-pinning order)."""
        if any(op in self.config.publish_ops for op in ("update", "delete")):
            # reference warns on this foot-gun: NOTHING emits no old image,
            # so UPDATE/DELETE events cannot be keyed
            # (replica_identity.go:61-76)
            for t in self.config.tables:
                if t.replica_identity == "NOTHING":
                    _log.warning(
                        "table %s uses REPLICA IDENTITY NOTHING with "
                        "update/delete publication ops; NOTHING suits "
                        "insert-only tables",
                        t.qualified,
                    )
        stmts: list[str] = []
        if self.config.heartbeat_enabled:
            stmts += pg.heartbeat_ensure_sql(self.config)
        stmts.append(pg.create_publication_sql(self.config))
        for t in self.config.tables:
            if t.replica_identity != "DEFAULT":
                stmts.append(pg.replica_identity_sql(t))
        if self.config.slot_create_if_not_exists:
            # slot.Config.CreateIfNotExists (slot/config.go:16): when false
            # the slot must pre-exist (e.g. a takeover deployment) and no
            # create statement is emitted
            stmts.append(
                pg.create_slot_sql(self.config.slot_name, self.config.slot_plugin)
            )
        return stmts

    # -- snapshot plane (O9-O16) -------------------------------------------

    def plan_snapshot(
        self,
        table: TableConfig,
        *,
        integer_pk: str | None = None,
        min_val: int | None = None,
        max_val: int | None = None,
        relpages: int | None = None,
        reltuples: float | None = None,
        total_rows: int | None = None,
    ) -> SnapshotPlan:
        """O13 auto-detection over caller-supplied stats (offline planning
        path; `plan_snapshot_auto` resolves them from a connection)."""
        return plan_auto(
            integer_pk=integer_pk,
            min_val=min_val,
            max_val=max_val,
            relpages=relpages,
            reltuples=reltuples,
            total_rows=total_rows,
            chunk_size=self.config.chunk_size,
        )

    def plan_snapshot_auto(self, run_sql, table: TableConfig) -> SnapshotPlan:
        """O13+O14: resolve PK/MIN-MAX/relpages stats from the server
        catalogs (`catalog_stats`) and auto-detect the chunk strategy —
        `run_sql(sql) -> list[tuple]` is any live connection."""
        from .catalog_stats import plan_from_connection

        return plan_from_connection(
            run_sql,
            table,
            condition=self.config.table_query_condition(table),
            chunk_size=self.config.chunk_size,
        )

    def snapshot_jdbc(
        self,
        conn: pg.PostgresConnection,
        table: TableConfig,
        plan: SnapshotPlan,
        snapshot_id: str | None = None,
    ) -> DataFrame:
        """Chunk-parallel JDBC snapshot read, every partition pinned to one
        exported snapshot. Untestable without a PG server + JDBC jar; the
        parquet transport below exercises the same planner."""
        opts = pg.snapshot_jdbc_options(
            conn, table, plan, snapshot_id, self.config.table_query_condition(table)
        )
        return self.spark.read.format("jdbc").options(**opts).load()

    def snapshot_parquet(self, path: str, columns: list[str] | None = None) -> DataFrame:
        """Parquet-transport snapshot (test harness / lakehouse re-read)."""
        df = self.spark.read.parquet(path)
        return df.select(*columns) if columns else df

    # -- streaming plane (O1-O8, O17-O21) ----------------------------------

    def changes(self, transport_dir: str) -> DataFrame:
        """Change-event stream from the file/Kafka transport directory."""
        return file_change_stream(self.spark, transport_dir)

    def slot_keeper(self, run_sql, wal_dir: str, **kw):
        """The production transport loop for this config: polls the slot
        with the config's text plugin (wal2json, or test_decoding on
        builds without it), ships durable WAL segments to `wal_dir`, advances
        `confirmed_flush_lsn`, heartbeats when idle (the reference's
        replication goroutine, `connector.Start` -> stream.go loop)."""
        from .sources.postgres import heartbeat_tick_sql
        from .sources.slot_keeper import SlotKeeper

        hb = heartbeat_tick_sql(self.config) if self.config.heartbeat_enabled else None
        kw.setdefault("keepalive_interval_s", self.config.heartbeat_interval_s)
        if self.config.slot_plugin in ("wal2json", "test_decoding"):
            # match the plugin the config's slot was created with; pgoutput
            # is socket-only, so the keeper keeps its wal2json default
            kw.setdefault("plugin", self.config.slot_plugin)
        return SlotKeeper(
            run_sql,
            wal_dir,
            self.config.slot_name,
            tables=[t.qualified for t in self.config.tables] or None,
            heartbeat_sql=hb,
            **kw,
        )

    def heartbeat_runner(self, run_sql, **kw):
        """Standalone heartbeat ticker at the configured interval
        (HeartbeatConfig.Interval, config.go:48-51)."""
        from .heartbeat import HeartbeatRunner

        kw.setdefault("interval_s", self.config.heartbeat_interval_s)
        return HeartbeatRunner(run_sql, self.config, **kw)

    def capture_slot(self, run_sql, timeout_s: float | None = None, **kw):
        """Passive-takeover wait at the configured slot-activity-checker
        interval (slot/config.go:11; connector.go:631-652). `run_sql` is any
        live connection; its `slot_status_sql` row is adapted to the status
        dict `capture_slot` polls. A missing slot returns inactive (the
        passive instance may start before the slot exists)."""
        kw.setdefault("poll_interval_s", self.config.slot_activity_checker_interval_s)
        sql = pg.slot_status_sql(self.config.slot_name)
        cols = (
            "slot_name", "active", "restart_lsn", "confirmed_flush_lsn",
            "current_lsn", "lag_bytes", "retained_wal_bytes",
        )

        def status_fn() -> dict:
            rows = run_sql(sql)
            if not rows:
                return {"active": False}
            return dict(zip(cols, rows[0]))

        return pg.capture_slot(status_fn, timeout_s=timeout_s, **kw)

    def hypertable_mapper(self, run_sql, **kw):
        """Chunk→hypertable remapper, only when the TimescaleDB extension
        support is enabled (ExtensionSupport.EnableTimeScaleDB,
        config.go:44-46) — returns None otherwise, as the reference skips
        hypertable sync entirely without the flag."""
        if not self.config.enable_timescaledb:
            return None
        from .operators.timescale import HypertableMapper

        return HypertableMapper(self.spark, run_sql, **kw)

    def replicate(
        self,
        wal_dir: str,
        *,
        host: str,
        port: int,
        user: str,
        database: str,
        password: str | None = None,
        **kw,
    ) -> int:
        """The socket transport loop for this config: START_REPLICATION on
        the slot over a raw socket, pump pgoutput frames into commit-aligned
        envelope segments under `wal_dir`, ack via standby-status. Blocks
        until the server ends the stream; transient drops redial with
        backoff (connector.go:446-559) and resume from the durable segment
        log. Pair with `envelope_changes(wal_dir)`."""
        from .sources.slot_keeper import run_replication_resilient

        return run_replication_resilient(
            host,
            port,
            user,
            database,
            self.config.slot_name,
            [self.config.publication_name],
            wal_dir,
            password=password,
            **kw,
        )

    def envelope_changes(self, wal_dir: str) -> DataFrame:
        """Streaming change envelope from socket-transport segments (already
        decoded driver-side by the pgoutput pump — no JVM decode step)."""
        from .sources.lsn_stream import wal_stream

        return wal_stream(self.spark, wal_dir, "envelope")

    def raw_changes(self, wal_dir: str, plugin: str | None = None) -> DataFrame:
        """Streaming change envelope from slot-keeper segments: raw
        (lsn, xid, data) rows decoded JVM-side — wal2json `from_json`
        (production) or the test_decoding text grammar (contrib fallback,
        present in every PostgreSQL build; see sources/test_decoding.py).

        `plugin` defaults to `config.slot_plugin` so the decode arm ALWAYS
        matches the plugin the slot was created with: a wal2json decode
        over test_decoding text lines has its `from_json` action filter
        drop every row — a silently empty change stream, the data-loss
        class the rejects accessors exist to prevent (r8 advisor).
        pgoutput is socket-framed, not poll-segment text — use
        `envelope_changes` for that transport."""
        from .sources.lsn_stream import wal_stream

        if plugin is None:
            plugin = self.config.slot_plugin
        if plugin == "pgoutput":
            raise ValueError(
                "slot_plugin='pgoutput' is the socket transport (binary "
                "COPY-BOTH frames, no text poll segments) — use "
                "envelope_changes(wal_dir) instead of raw_changes"
            )
        raw = wal_stream(self.spark, wal_dir, "raw")
        if plugin == "wal2json":
            from .sources.wal2json import decode_wal2json

            return decode_wal2json(raw)
        if plugin == "test_decoding":
            from .sources.test_decoding import decode_test_decoding

            return decode_test_decoding(raw)
        raise ValueError(f"unknown poll plugin {plugin!r}")

    def _typer(self, table, value_schema, *, with_seq, pk_col="pk",
               evolve_from=None, lsn_floor=None):
        """The typed transports' one typing step: `type_batch(envelope)
        -> (rows, dropped_cols)`, the rows of `table` above `lsn_floor`
        in the mirror's (op, lsn, [txn_seq], xid, commit_ts, pk, *values)
        shape (pk from the before image on DELETE). Like the reference's
        Relation cache (relation.go:68-87), the predicate and each DDL's
        columns are built once; a batch is one `where` + one `select`.
        With `evolve_from` (the pump's wal_dir) the DDL and the drop list
        come from its Relation sidecar per batch; without it, the
        declared DDL and None."""
        from pyspark.sql import functions as F

        from .envelope import typed_projection

        sch, _, tbl = table.rpartition(".")
        where = (F.col("schema") == (sch or "public")) & (F.col("table") == tbl)
        if lsn_floor is not None:
            where &= F.col("lsn") > lsn_floor
        img = F.when(F.col("op") == "D", F.col("before")).otherwise(F.col("after"))
        (pk,) = typed_projection(img, ddl_struct(f"{pk_col} bigint"))
        head = [
            "op",
            "lsn",
            # commit-rewritten envelopes carry the intra-transaction order
            # key — keep it so the mirror merge orders same-commit events
            *(["txn_seq"] if with_seq else []),
            "xid",
            "commit_ts",
            pk.alias("pk"),
        ]
        selects: dict[str, list] = {}  # value DDL -> its flat columns

        def type_batch(env):
            ddl, dropped = value_schema, None
            if evolve_from is not None:
                ddl, dropped = self._evolved_value_schema(evolve_from, table, ddl)
            if ddl not in selects:
                selects[ddl] = head + typed_projection(
                    F.col("after"), ddl_struct(ddl)
                )
            return env.where(where).select(*selects[ddl]), dropped

        return type_batch

    def _evolved_value_schema(
        self, wal_dir: str, table: str, declared_ddl: str
    ) -> tuple[str, tuple[str, ...]]:
        """(evolved DDL, dropped column names) from the pump's Relation
        sidecar — the transport-level schema authority (relation.go:11-19,
        refreshed on every Relation re-send):

        * sidecar-only columns APPEND in relation order (ADD COLUMN);
        * a declared column whose sidecar type differs WIDENS in place
          when the pair is a safe parquet read-promotion
          (`streaming.changelog_stream.widened_type` — ALTER COLUMN TYPE
          int4->int8 etc.); a non-widenable change raises (rebuild);
        * a declared column ABSENT from the sidecar is DROPPED only when
          the sidecar's provenance (`seen` — the union of every column
          name any Relation message ever carried) shows the live table
          previously HAD it; it keeps its slot in the DDL (the mirror
          masks it dead from this epoch; see merge_mirror_batch
          dropped_cols) and is returned in the drop list. A declared
          column the live schema has NEVER shipped (declaration leading
          the actual PG DDL, or a sidecar written by an older Relation
          message) is NOT a drop — masking it would physically NULL its
          carried-forward values in every bucket rewritten meanwhile and
          force a rebuild when the column finally appears (ADVICE r9);
          it simply passes through until a Relation message mentions it.

        Columns named like the flat envelope's own (op/lsn/pk/...) are
        skipped — they cannot be value columns of the mirror row."""
        from .envelope import pg_type_to_spark
        from .sources.slot_keeper import read_relation_sidecar
        from .streaming.changelog_stream import widened_type

        sidecar = read_relation_sidecar(wal_dir, table)
        if not sidecar or not sidecar["columns"]:
            return declared_ddl, ()
        rel_cols = [(c, t) for c, t in sidecar["columns"]]
        ever_seen = set(sidecar["seen"])
        declared = [
            (f.name, f.dataType.simpleString())
            for f in ddl_struct(declared_ddl).fields
        ]
        rel_types = {n: pg_type_to_spark(t).simpleString() for n, t in rel_cols}
        out: list[tuple[str, str]] = []
        dropped: list[str] = []
        for n, t in declared:
            if n not in rel_types:
                if n in ever_seen:
                    dropped.append(n)
                out.append((n, t))  # keeps its slot; the merge masks it
                continue
            rt = rel_types[n]
            if rt == t:
                out.append((n, t))
                continue
            w = widened_type(t, rt)
            if w is None:
                raise ValueError(
                    f"column {table}.{n} changed type {t} -> {rt}, which "
                    "is not a safe parquet widening — the mirror requires "
                    "a rebuild"
                )
            out.append((n, w))
        have = {n for n, _t in declared} | {
            "op", "lsn", "txn_seq", "xid", "commit_ts", "pk", "pb",
        }
        out += [
            (n, pg_type_to_spark(t).simpleString())
            for n, t in rel_cols
            if n not in have
        ]
        return ", ".join(f"{n} {t}" for n, t in out), tuple(dropped)

    def typed_multi_mirror(
        self,
        changes: DataFrame,
        state_root: str,
        checkpoint_dir: str,
        tables: dict[str, str],
        pk_col: str = "pk",
        n_buckets: int | None = None,
        evolve_schema: bool = False,
        wal_dir: str | None = None,
    ):
        """O17 typed fan-out: ONE slot's envelope stream feeds every
        published table's whole-row mirror (the reference runs one
        replication stream and dispatches per table — connector.go sink
        dispatch). `tables` maps qualified name -> value-column DDL; each
        micro-batch is split per table (driver-side control flow only —
        tables are few, rows are many), typed per that table's schema, and
        merged into `<state_root>/<schema>__<table>` with per-column TOAST
        repair.

        `evolve_schema=True` (requires `wal_dir`, the directory the
        socket pump fills) makes EACH table's mirror follow mid-stream
        DDL independently through the pump's per-table Relation sidecar —
        same contract as `start(evolve_schema=True)`: supersets widen the
        manifest pin, pre-DDL rows read NULL for new columns."""
        from .streaming.changelog_stream import merge_mirror_batch

        if evolve_schema and wal_dir is None:
            raise ValueError("evolve_schema=True requires wal_dir=")

        with_seq = "txn_seq" in changes.columns
        evolve_from = wal_dir if evolve_schema else None
        typers = {
            t: self._typer(t, ddl, pk_col=pk_col, with_seq=with_seq, evolve_from=evolve_from)
            for t, ddl in tables.items()
        }

        def apply(batch_df, _spark_epoch: int) -> None:
            for table, type_batch in typers.items():
                flat, dropped = type_batch(batch_df)
                # epoch=None: each mirror numbers epochs from its own
                # manifest counter — Spark's batch id collides with any
                # epoch a seed already wrote (see mirror_sink)
                merge_mirror_batch(
                    flat,
                    os.path.join(state_root, table.replace(".", "__")),
                    epoch=None,
                    n_buckets=n_buckets,
                    value_cols=None,  # inferred from the typed columns
                    evolve_schema=evolve_schema,
                    dropped_cols=dropped,
                )

        return (
            changes.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(apply)
            .start()
        )

    # -- lifecycle orchestration (connector.Start, SURVEY §3.1-3.3) --------

    def start(
        self,
        run_sql,
        wal_dir: str,
        state_dir: str,
        checkpoint_dir: str,
        *,
        value_schema: str = "after_val double",
        transport: str = "flat",
        table: str | None = None,
        chunk_planner=None,
        chunk_reader=None,
        claim_ttl_s: float = 300.0,
        drain_timeout_s: float = 600.0,
        evolve_schema: bool = False,
        **mirror,
    ):
        """The reference's `connector.Start(ctx)` in one call
        (connector.go:57-142 sequencing; SURVEY §3.1-3.3):

        0. check the inputs — transport, `table=`, the state dir's claim
           backend, the mirror options —
           so a bad call fails before any statement reaches the server
        1. management DDL via `run_sql` — heartbeat, publication, replica
           identities, slot LAST-but-before-snapshot, so the slot pins WAL
           from before any snapshot row is read (O28 ordering)
        2. record the snapshot LSN (`pg_current_wal_lsn`) with the slot in
           place — the handoff watermark
        3. `initial` / `snapshot_only`: publish each seeded table's chunk
           plan to the cooperative chunk queue and adopt the snapshot LSN
           published with it (`_publish_seed`). A completed seed is
           skipped on restart and its stored snapshot LSN reused;
           `config.resnapshot` clears the queue so every chunk
           reprocesses (config.go:328).
        4. `initial`/`never`: on a helper thread, start the changelog
           stream from `wal_dir`, dropping events at or below the snapshot
           LSN (O28 — no gap, no duplicate) and merging into the mirror
           through one `mirror_sink` call. Its batches wait at a gate
           until step 5 ends, so the stream's start-up overlaps the seed.
        5. meanwhile drain the queues on the calling thread
           (`_drain_seed`): seed the mirrored table into the bucketed
           mirror as op='R' rows at the snapshot LSN.
           `chunk_reader(tcfg, chunk) -> DataFrame` with (pk, *value
           columns), e.g. a `snapshot_jdbc`/`snapshot_parquet` read, reads
           one chunk. `snapshot_only` runs this step alone and is done.
        6. open the gate: the stream's first merge comes after the seed's
           last one, so a stream DELETE is never undone by a seed row (the
           fold keeps no tombstones). If the seed raises, the gate carries
           the error, the query is stopped, and `start` re-raises it; if
           the stream fails to start, `start` raises that error once the
           seed has drained.

        The transport runs separately (`slot_keeper` / `replicate` fill
        `wal_dir` with segments); this sequences control plane + data
        plane. Returns (snapshot_lsn, streaming_query_or_None).
        `start_phases` then holds the wall seconds of `ddl` (steps 1-2),
        `publish` (3), `stream_start` (4), `seed_drain` (5) and, once the
        status server's listener sees the query's first progress event,
        `gate_to_first_commit`; `status_server` exports them.

        `value_schema` is the captured table's VALUE-column DDL (default
        the single after_val column): the chunk reader must produce
        those columns, WAL segments must carry them, and the mirror
        stores the whole row with per-column TOAST repair (reference
        parity: sinks receive full-row images).

        `transport` selects the stream format in `wal_dir`:
          - "flat": pre-flattened typed segments (op/lsn/.../pk/values) —
            the test-harness and lakehouse-replay shape;
          - "envelope": the socket/pgoutput pump's envelope segments
            (string-map before/after images) typed per `value_schema`;
          - "wal2json": the slot keeper's raw (lsn, xid, json) segments,
            decoded JVM-side then typed the same way;
          - "test_decoding": the keeper's raw segments under the contrib
            text plugin (every PG build ships it), decoded JVM-side by
            sources/test_decoding.py — the no-extra-extension poll arm.
        All but the first need `table` (qualified name) and run the FULL
        reference lifecycle on the real transport: snapshot seeds typed
        rows, post-handoff envelope events are typed and merged with
        per-column TOAST repair. The mirror holds that one table, so the
        seed covers only `table` (within `config.snapshot_tables` when
        set); "flat" seeds every snapshot table into the mirror.

        `chunk_planner` (tcfg -> chunk dicts, e.g.
        `chunk_queue.manifest_from_plan(plan_auto(...))`) splits each
        table's seed into chunks; omitted, a table is ONE chunk
        (`[{}]`, read whole — the reader gets `{"chunk_index": 0}`).
        Either way the seed runs through the shared claim queue under
        state_dir (O23 at the reference's worker-queue granularity): N
        apps started against the same state_dir split the chunks, and a
        peer waits for a chunk another app holds. The first app
        publishes the snapshot LSN; every app adopts it. A chunk claim
        goes stale (reclaimable by a peer) after `claim_ttl_s` without a
        heartbeat, and a background heartbeat refreshes it every
        claim_ttl_s/4 while the chunk processes, so a long chunk read
        is never reclaimed mid-processing. The seed's mirror merge lock
        goes stale after the same `claim_ttl_s`: a peer that died
        holding it is taken over then. `drain_timeout_s` bounds IDLE
        time — no chunk completing anywhere — not total drain
        wall-clock. The queue and the mirror coordinate through the
        backend mounted for `state_dir` (`snapshot.claim_backend.mount`):
        POSIX hard-link claims for an unmounted local state dir; mount an
        `ObjectStoreBackend` at an S3/GCS root, where claims ride
        conditional PUTs (If-None-Match / If-Match) instead of links. An
        unmounted URI state dir raises before any DDL.

        `evolve_schema=True` (envelope transport only) lets the typed
        mirror follow mid-stream DDL: the pump persists every pgoutput
        Relation (re-)send's column list to `wal_dir/_schema/`, each
        micro-batch types against the declared DDL widened with any new
        sidecar columns, and the mirror merge widens its manifest pin
        (reference parity: sinks receive a Relation re-send's new columns
        immediately — relation.go:11-19). Rows not touched since the DDL
        read NULL for the new column: logical decoding does not ship
        DEFAULT backfills, so NULL is the honest CDC answer until the row
        is next written.

        A column the sidecar shows dropped is masked from that batch's
        epoch on: `transform` returns each batch's drop list with its
        rows (there is no `dropped_cols` option).

        Every other keyword is a mirror option (`n_buckets`,
        `keep_epochs`, `merge_mode`, `compact_deltas`, `view_*`,
        `maintain_*`, `on_maintenance`) and goes to
        `streaming.changelog_stream.mirror_sink` unchanged — see it for
        their meaning. The seed writes the mirror with the same
        `n_buckets` and `keep_epochs`."""
        from concurrent.futures import Future, ThreadPoolExecutor

        from .sources.slot_keeper import lsn_to_int

        if transport not in _TRANSPORTS:
            raise ValueError(f"unknown transport {transport!r}")
        if transport != "flat" and table is None:
            raise ValueError(f"transport={transport!r} requires table=")
        if evolve_schema and transport != "envelope":
            # the text-plugin transports carry no Relation messages, so
            # there is no typed schema authority to evolve from
            raise ValueError(
                "evolve_schema=True requires transport='envelope' (the "
                "pgoutput Relation sidecar is the schema authority)"
            )
        seeding = self.config.snapshot_mode in ("initial", "snapshot_only")
        if seeding and chunk_reader is None:
            raise ValueError(
                f"snapshot_mode={self.config.snapshot_mode!r} needs a chunk_reader"
            )
        backend_for(state_dir)  # an unmounted URI root raises here
        # an unknown mirror option, or one start() sets itself, raises
        # TypeError here
        inspect.signature(mirror_sink).bind(
            None, state_dir, checkpoint_dir,
            **dict.fromkeys(_OWN_SINK_ARGS), **mirror,
        )
        value_cols = tuple(f.name for f in ddl_struct(value_schema).fields)
        phases = self.start_phases
        phases.clear()
        self.gate_opened = None
        t = time.perf_counter()
        for stmt in self.setup_sql():
            run_sql(stmt)
        (row,) = run_sql(pg.current_wal_lsn_sql())
        snapshot_lsn = lsn_to_int(row[0])
        phases["ddl"] = time.perf_counter() - t

        queues = []
        if seeding:
            t = time.perf_counter()
            queues, snapshot_lsn = self._publish_seed(
                chunk_planner or (lambda _tcfg: [{}]), state_dir, snapshot_lsn, table
            )
            phases["publish"] = time.perf_counter() - t

        def drain() -> None:
            t = time.perf_counter()
            self._drain_seed(
                queues,
                chunk_reader,
                state_dir,
                value_cols,
                mirror.get("n_buckets"),
                mirror.get("keep_epochs"),
                claim_ttl_s=claim_ttl_s,
                drain_timeout_s=drain_timeout_s,
            )
            phases["seed_drain"] = time.perf_counter() - t

        if self.config.snapshot_mode == "snapshot_only":
            drain()
            return snapshot_lsn, None
        # the stream's batches wait at this gate until the seed has
        # committed: no stream epoch can precede the seed epoch
        gate = Future()

        def start_stream():
            t = time.perf_counter()
            stream_df, to_flat = self._change_stream(
                wal_dir, transport, table, value_schema, evolve_schema, snapshot_lsn
            )

            def transform(batch_df):
                gate.result()  # raises the seed's error
                return to_flat(batch_df)

            query = mirror_sink(
                stream_df,
                state_dir,
                checkpoint_dir,
                # evolving: inferred per batch from the typed columns
                value_cols=None if evolve_schema else value_cols,
                transform=transform,
                evolve_schema=evolve_schema,
                **mirror,
            )
            phases["stream_start"] = time.perf_counter() - t
            return query

        # the stream starts on a helper thread while this one drains the
        # seed: the seed's merges stay on the calling thread
        with ThreadPoolExecutor(1, thread_name_prefix="cdc-stream-start") as pool:
            started = pool.submit(start_stream)
            try:
                drain()
            except BaseException as exc:
                gate.set_exception(exc)
                if started.exception() is None:  # waits for the start
                    started.result().stop()
                raise
            query = started.result()  # a failed stream start raises here
        self.gate_opened = (str(query.id), time.perf_counter())
        gate.set_result(None)
        return snapshot_lsn, query

    def _change_stream(
        self, wal_dir, transport, table, value_schema, evolve_schema, snapshot_lsn
    ):
        """`start`'s data-plane input: (the change stream from `wal_dir`,
        `to_flat(batch) -> (flat rows above the snapshot LSN, dropped
        columns or None)`). The typed transports differ only in their
        stream and their decode step."""
        from pyspark.sql import functions as F

        if transport == "flat":
            stream_df = file_change_stream(
                self.spark,
                wal_dir,
                schema=ddl_struct(
                    "op string, lsn bigint, xid bigint, commit_ts timestamp, "
                    f"pk bigint, {value_schema}"
                ),
            )
            after = F.col("lsn") > snapshot_lsn
            return stream_df, lambda batch: (batch.where(after), None)

        decode = None
        if transport == "test_decoding":
            # The text grammar's commit-ts stamp is a per-xid aggregate +
            # join — not expressible incrementally on an unbounded stream.
            # Stream the RAW segments and run decode + typing per
            # micro-batch inside the sink. The keeper cuts raw segments at
            # COMMIT boundaries (SlotKeeper.poll_once, r9), so a txn never
            # straddles a segment and the per-batch join always sees its
            # COMMIT — commit_ts is exact on any batch boundary (the only
            # degraded case is a txn that out-sizes the keeper's bounded
            # window escalation, which ships with NULL commit_ts, never a
            # wrong one; ordering rides (lsn, txn_seq), not commit_ts).
            from .sources.lsn_stream import wal_stream
            from .sources.test_decoding import decode_test_decoding

            stream_df = wal_stream(self.spark, wal_dir, "raw")
            decode = decode_test_decoding
        elif transport == "envelope":
            stream_df = self.envelope_changes(wal_dir)
        else:
            stream_df = self.raw_changes(wal_dir, plugin="wal2json")
        type_batch = self._typer(
            table,
            value_schema,
            # only the socket pump's envelope segments carry txn_seq
            with_seq=transport == "envelope",
            evolve_from=wal_dir if evolve_schema else None,
            lsn_floor=snapshot_lsn,
        )
        if decode is None:
            return stream_df, type_batch
        return stream_df, lambda batch: type_batch(decode(batch))

    def _publish_seed(self, chunk_planner, state_dir, snapshot_lsn, table):
        """The cooperative snapshot seed's first half (O23 at the
        reference's granularity, worker.go:421-484): publish each seeded
        table's chunk plan first-writer-wins to a shared claim queue under
        `state_dir`, and adopt the handoff LSN published with it. Returns
        ([(table config, queue dir, its published LSN)], the shared
        snapshot LSN).

        The FIRST app's snapshot LSN is published in the queue manifest
        and adopted by everyone (one shared handoff point); chunk reads
        later than that LSN may see newer data, which the
        max-(lsn,txn_seq)-wins stream merge reconciles — the reference's
        multi-pod model. The shared LSN is the MINIMUM of the published
        per-table LSNs: with several tables the queues can be published by
        different apps at different WAL positions (e.g. after a
        crash-restart), and the single stream filter must not drop any
        table's events between its own anchor and a later table's (review
        r7: anchoring at the LAST table's LSN silently lost the window in
        between).

        The seeded tables are `config.snapshot_tables` (default: every
        configured table), narrowed to `table` when the mirror holds one
        table: any other table's rows (the heartbeat table's among them)
        do not belong in it.

        A state_dir seeded by the retired whole-table job claim holds a
        `_snapshot_done` marker and no chunk queue. Re-seeding it at a
        fresh LSN would keep rows deleted since the old seed, so that
        layout raises instead: rebuild the state dir."""
        from .snapshot import chunk_queue as cq

        wanted = set(
            self.config.snapshot_tables
            or [t.qualified for t in self.config.tables]
        )
        if table is not None:
            sch, _, tbl = table.rpartition(".")
            wanted &= {f"{sch or 'public'}.{tbl}"}
        queues = []
        for tcfg in self.config.tables:
            if tcfg.qualified not in wanted:
                continue
            qdir = os.path.join(
                state_dir, "chunks", tcfg.qualified.replace(".", "__")
            )
            if not cq.read_manifest(qdir) and backend_for(state_dir).exists(
                os.path.join(state_dir, "_snapshot_done")
            ):
                raise RuntimeError(
                    f"{state_dir} was seeded by the retired whole-table "
                    "snapshot job (_snapshot_done marker, no chunk queue); "
                    "re-seeding it at a fresh LSN would keep rows deleted "
                    "since that seed — rebuild the state dir"
                )
            if self.config.resnapshot:
                # force-resnapshot must clear the per-table chunk queue or
                # persisted done markers silently re-seed NOTHING; like
                # the reference's metadata wipe, this is a
                # start-the-fleet-after action, not safe concurrent with a
                # live peer's drain.
                cq.reset(qdir)
            cq.init_chunk_queue(
                qdir,
                chunk_planner(tcfg),
                meta={"snapshot_lsn": snapshot_lsn},
            )
            # first-writer-wins: adopt THIS table's PUBLISHED handoff point
            table_lsn = int(
                cq.read_queue_meta(qdir).get("snapshot_lsn", snapshot_lsn)
            )
            queues.append((tcfg, qdir, table_lsn))
        return queues, min((q[2] for q in queues), default=snapshot_lsn)

    def _drain_seed(
        self,
        queues,
        chunk_reader,
        state_dir,
        value_cols,
        n_buckets,
        keep_epochs,
        claim_ttl_s: float,
        drain_timeout_s: float,
    ) -> None:
        """The cooperative seed's second half: every cooperating app
        drains the published queues — claim, read the chunk
        (`chunk_reader(tcfg, chunk) -> DataFrame` of (pk, *values)) as
        op='R' rows at its table's published LSN, merge, mark done — with
        crashed peers' chunks reclaimed after their heartbeat TTL. The
        merges run on the calling thread."""
        from pyspark.sql import functions as F

        from .snapshot import chunk_queue as cq
        from .streaming.changelog_stream import merge_mirror_batch

        for tcfg, qdir, table_lsn in queues:

            def process(chunk, claim, tcfg=tcfg, lsn=table_lsn):
                rows = chunk_reader(tcfg, chunk).select(
                    "pk",
                    F.lit(lsn).cast("long").alias("lsn"),
                    F.lit("R").alias("op"),
                    *value_cols,
                )
                merge_mirror_batch(
                    rows,
                    state_dir,
                    n_buckets=n_buckets,
                    value_cols=value_cols,
                    # the seed merge is often the mirror's FIRST write —
                    # it must pin the caller's retention, or
                    # snapshot_only mode silently keeps 1
                    keep_epochs=keep_epochs,
                    # a peer that died holding the merge lock is taken
                    # over after the same window as its chunk claims
                    lock_ttl_s=claim_ttl_s,
                )
                # rows_processed=0: an exact count would cost one extra
                # Spark job per chunk; queue progress tracks chunks, and
                # the mirror itself is the row-level source of truth
                return 0

            cq.drain(
                qdir,
                process,
                claim_ttl_s=claim_ttl_s,
                timeout_s=drain_timeout_s,
                # beat well inside the claim TTL so a chunk whose read
                # outlasts claim_ttl_s is never reclaimed by a live peer
                # mid-processing (r7 advisor: no heartbeat meant duplicate
                # merges for any chunk slower than the TTL)
                heartbeat_every_s=claim_ttl_s / 4,
            )

    def current_state(self, state_dir: str) -> DataFrame:
        from .streaming import read_mirror

        return read_mirror(self.spark, state_dir)

    def lookup(self, state_dir: str, pks: list[int]) -> DataFrame:
        """Bucket-pruned point lookup in the mirror: reads only the bucket
        files the keys hash into (~len(pks)/n_buckets of the state)."""
        from .streaming import lookup_mirror

        return lookup_mirror(self.spark, state_dir, pks)

    def register_view(self, state_dir: str, name: str) -> DataFrame:
        """Expose the mirror to SQL: `spark.sql(f"SELECT ... FROM {name}")`
        resolves to the state at the LAST MERGE COMMIT (SURVEY §7's
        catalog-resolution nice-to-have, done the Spark-first way).

        The view binds the bucket paths of the manifest snapshot, and GC
        deletes superseded bucket dirs — so the view is KEPT CURRENT by the
        merge itself: `merge_mirror_batch` re-registers every view recorded
        for this state_dir right after the manifest swap and before GC
        (ADVICE r4). A query planned concurrently with a merge can still
        race file deletion — the same exposure any non-MVCC file source
        has; use a table format (Delta/Iceberg) when snapshot-isolated
        readers are required."""
        from .streaming.changelog_stream import register_mirror_view

        return register_mirror_view(self.spark, state_dir, name)

    # -- observability (O33) ------------------------------------------------

    def status_server(self, wal_dir: str | None = None, host: str = "127.0.0.1", port: int = 0):
        """Start the /status + /metrics + /slot HTTP surface
        (`internal/http/server.go:36-60`). EACH server registers its OWN
        CdcMetricsListener and `stop()` detaches exactly that one — a
        shared cached listener (the first r4-ADVICE fix) froze a second
        concurrent server's metrics the moment the first was stopped (r5
        review); per-server listeners keep stop() leak-free without the
        cross-interference. Pass `wal_dir` so /slot serves live
        confirmed/current LSNs from the segment log. Returns the started
        `StatusServer` (`.port`, `.listener`, `.stop()`). /metrics also
        carries this engine's `start_phases`; start the server before
        `start` so its listener sees the gated query's first progress
        event, which ends `gate_to_first_commit`."""
        from .observability import CdcMetricsListener, StatusServer

        listener = CdcMetricsListener()
        listener.attach_engine(self)
        self.spark.streams.addListener(listener)
        if wal_dir is not None:
            listener.attach_wal_dir(wal_dir, self.config.slot_name)
        try:
            return StatusServer(
                listener, host=host, port=port, spark=self.spark, config=self.config
            ).start()
        except Exception:
            # a bind failure (port taken) must not leak the registered
            # listener — it would keep receiving callbacks forever
            self.spark.streams.removeListener(listener)
            raise


def snapshot_only(
    df, out_dir: str, mode: str = "error_if_exists", resnapshot: bool = False
) -> bool:
    """§3.3 snapshot-only mode: one-shot export with resume — if the output
    is already committed (Spark's _SUCCESS marker), skip the work (the
    reference resumes via its pseudo-slot job row, connector.go:406-444).
    `resnapshot=True` ignores the marker and rewrites everything
    (config.go:328; TestForceResnapshotOnlyMode).
    Returns True if a snapshot was written, False if resumed/skipped."""
    if not resnapshot and os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return False
    df.write.mode(
        "overwrite" if (resnapshot or mode == "overwrite") else "errorifexists"
    ).parquet(out_dir)
    return True
