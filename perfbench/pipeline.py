"""The CDC path composed the way a user composes it.

    PostgreSQL --START_REPLICATION--> ReplicationConnection.frames()
      -> slot_keeper.pump_frames (pgoutput decode, commit-aligned envelope
         segments, standby-status acks)
      -> pq_cdc_wal micro-batch source -> CdcEngine typed projection
      -> mirror merge + manifest commit

`Cdc` owns one run's Spark session, engine, pump thread and progress
listener, and tears all of them down in `close()`.
"""

from __future__ import annotations

import os
import struct
import threading
import time

import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import pgserver
from stats import batch_frontier, progress_record, rows_committed

PUBLICATION = "perfbench_pub"
SLOT = "perfbench_slot"
PUMP_BATCH_ROWS = 1000  # pump_frames / run_replication default
KEEP_EPOCHS = 16  # covers concurrent lookups: a lookup outlives several merges
WAIT_S = 120.0


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event (`recentProgress` keeps only 100)."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        rec = progress_record(event.progress)
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.events)

    def committed_lsn(self) -> int:
        with self._lock:
            return max((e["end_lsn"] for e in self.events), default=-1)


def _commit_xid(payload: bytes, current: int | None) -> int | None:
    """xid a pgoutput Commit ('C', for the open Begin's `current` xid) or
    StreamCommit ('c', xid inline) completes; None for other messages."""
    if payload[:1] == b"C":
        return current
    if payload[:1] == b"c":
        return struct.unpack_from(">I", payload, 1)[0]
    return None


class Cdc:
    def __init__(self, pg: pgserver.PgServer, run_dir: str, table: str,
                 value_schema: str, tracer=None, repl_options: str | None = None):
        self.pg = pg
        self.run_dir = run_dir
        self.table = table
        self.value_schema = value_schema
        self.tracer = tracer
        self.repl_options = repl_options
        self.sql = pg.sql()
        self.spark = None
        self.query = None
        self.progress = None
        self._pump = None
        self._pump_conn = None
        self._pump_error: list[BaseException] = []
        self._stop_xid: int | None = None
        self._committed: set[int] = set()

    # -- Spark session ---------------------------------------------------------

    def new_session(self):
        from go_pq_cdc_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.progress = ProgressLog()
        self.spark.streams.addListener(self.progress)
        return self.spark

    # -- engine ------------------------------------------------------------------

    def dirs(self) -> dict:
        return {k: os.path.join(self.run_dir, k) for k in ("wal", "state", "ckpt")}

    def start_engine(self, chunk_planner, chunk_reader):
        """`CdcEngine.start`: publication and slot DDL, the chunked
        snapshot seed, and the envelope stream into the mirror."""
        from go_pq_cdc_spark.config import EngineConfig, TableConfig
        from go_pq_cdc_spark.engine import CdcEngine

        d = self.dirs()
        os.makedirs(d["wal"], exist_ok=True)
        # no heartbeat: nothing here writes it, and it would have to be
        # published alongside the table
        cfg = EngineConfig(publication_name=PUBLICATION, slot_name=SLOT,
                           tables=[TableConfig(name=self.table)], heartbeat_enabled=False)
        eng = CdcEngine(cfg, self.spark)
        _snapshot_lsn, self.query = eng.start(
            self.sql.simple_query, d["wal"], d["state"], d["ckpt"],
            chunk_planner=chunk_planner, chunk_reader=chunk_reader,
            value_schema=self.value_schema, transport="envelope",
            table=f"public.{self.table}", keep_epochs=KEEP_EPOCHS,
        )

    # -- the pump ----------------------------------------------------------------

    def _frames(self, frames):
        """End the stream once the stop transaction has been handed to the
        pump, so its final flush writes the tail. Transactions arrive in
        commit order, so every earlier one is in by then."""
        current = None
        for f in frames:
            yield f
            payload = getattr(f, "payload", b"")
            if payload[:1] == b"B":
                current = struct.unpack_from(">I", payload, 17)[0]
            xid = _commit_xid(payload, current)
            if xid is not None:
                self._committed.add(xid)
            if self._stop_xid in self._committed:
                return

    def start_pump(self) -> None:
        from go_pq_cdc_spark.sources.slot_keeper import pump_frames

        conn = pgserver.connect(self.pg.port, replication=True, options=self.repl_options)
        conn.sock.settimeout(None)
        conn.start_replication(SLOT, 0, [PUBLICATION])
        frames, send = conn.frames(), conn.send_standby_status
        if self.tracer is not None:
            frames, send = self.tracer.frames(frames), self.tracer.send_status(send)
        wal = self.dirs()["wal"]

        def run():
            try:
                pump_frames(self._frames(frames), wal, send,
                            batch_rows=PUMP_BATCH_ROWS, start_lsn=0)
            except BaseException as exc:  # noqa: BLE001 — reported by finish_pump
                self._pump_error.append(exc)

        self._pump_conn = conn
        self._pump = threading.Thread(target=run, name="pump", daemon=True)
        self._pump.start()

    def finish_pump(self, stop_xid: int) -> None:
        """Let the pump run past transaction `stop_xid`, flush its tail and
        exit. An idle stream sends no frame to act on, so each second the
        pump is asked for a status reply, which the server answers with a
        keepalive."""
        self._stop_xid = stop_xid
        deadline = time.time() + WAIT_S
        while True:
            self._pump.join(timeout=1.0)
            if not self._pump.is_alive():
                break
            if time.time() > deadline:
                raise TimeoutError(f"pump did not reach xid {stop_xid} in {WAIT_S}s")
            self._pump_conn.send_standby_status(0, 0, 0, reply=True)
        self.stop_pump()
        if self._pump_error:
            raise self._pump_error[0]

    def stop_pump(self) -> None:
        if self._pump_conn is not None:
            self._pump_conn.close()
            self._pump_conn = None
        if self._pump is not None:
            self._pump.join(timeout=30)
            self._pump = None

    # -- observing the mirror ----------------------------------------------------

    def segment_commits(self) -> dict[int, int]:
        """xid -> commit LSN for every transaction in the segment log."""
        from go_pq_cdc_spark.sources import lsn_stream

        commits = {}
        for _s, _e, path in lsn_stream.list_segments(self.dirs()["wal"]):
            t = pq.read_table(path, columns=["xid", "lsn"])
            commits.update(zip(t.column("xid").to_pylist(), t.column("lsn").to_pylist()))
        return commits

    def segment_rows(self) -> list[tuple[int, int]]:
        """(end LSN, rows) per segment."""
        from go_pq_cdc_spark.sources import lsn_stream

        return [(e, pq.ParquetFile(path).metadata.num_rows)
                for _s, e, path in lsn_stream.list_segments(self.dirs()["wal"])]

    def batches(self) -> list[tuple[float, int]]:
        """(end wall s, source rows) per micro-batch that read rows."""
        return rows_committed(batch_frontier(self.progress.snapshot()), self.segment_rows())

    def wait_committed(self, lsn: int) -> None:
        """Block until a micro-batch whose end offset reaches `lsn` has
        committed its mirror merge."""
        deadline = time.time() + WAIT_S
        while self.progress.committed_lsn() < lsn:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"mirror did not reach LSN {lsn} in {WAIT_S}s")
            time.sleep(0.05)

    def wait_first_batch(self) -> None:
        """The stream is live once its first trigger has run."""
        deadline = time.time() + WAIT_S
        while not self.progress.snapshot():
            if self.query.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"stream did not start: {self.query.exception()}")
            time.sleep(0.05)

    def read_mirror(self, cols: list[str]) -> list[tuple]:
        from go_pq_cdc_spark.streaming import read_mirror

        return [tuple(r) for r in read_mirror(self.spark, self.dirs()["state"]).select(*cols).collect()]

    def source_rows(self, cols: list[str]) -> dict:
        rows = self.sql.simple_query(f"SELECT {', '.join(cols)} FROM {self.table}")
        return {int(r[0]): tuple(r[1:]) for r in rows}

    def jobs_in_stream_group(self) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup(str(self.query.runId)))

    # -- teardown ----------------------------------------------------------------

    def close(self, tables: list[str]) -> None:
        try:
            if self.query is not None:
                self.query.stop()
                self.query = None
        finally:
            self.stop_pump()
            try:
                pgserver.drop_cdc_objects(self.sql.simple_query, SLOT, PUBLICATION,
                                          tables)
            finally:
                self.sql.close()
                if self.spark is not None:
                    self.spark.stop()
