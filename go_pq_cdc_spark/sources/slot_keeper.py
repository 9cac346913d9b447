"""The production transport loop: slot → WAL segment log → slot advance.

This is the engine's analogue of the reference's replication loop
(`pq/replication/stream.go:121-143` connect+start, `:302-348` message loop,
`:372-393` keepalive ticker, `:718-733` final LSN flush). The reference
holds a START_REPLICATION socket; this keeper drives the text-mode polling
transport instead — same at-least-once, LSN-ordered contract:

  poll (PEEK, non-consuming)  ->  write wal_<a>_<b>.parquet segment
      (durable, atomic rename)  ->  ADVANCE confirmed_flush_lsn to <b>

The segment directory is the durable log the `pq_cdc_wal` stream source
reads (sources/lsn_stream.py); Spark tracks its own consumer position in
its checkpoint + the `_confirmed` file. Because the slot is advanced only
AFTER the segment rename, every crash window replays instead of losing
data; the frontier filter makes the replay idempotent:

  * crash after peek, before write  -> nothing advanced; re-peek re-reads
  * crash after write, before advance -> frontier recovers from the segment
    files on disk; the next advance self-heals; peeked rows <= frontier are
    dropped before writing

Retention: segments at or below Spark's confirmed LSN can be deleted
(`gc_segments`) — the two-tier ack (slot advance at durable-write, segment
GC at consumer-confirm) bounds both server WAL retention and local disk.

All SQL goes through one injected `run_sql(sql) -> list[tuple]` seam — the
container has no PostgreSQL, so tests drive the loop with a fake; the SQL
text itself is unit-tested in sources/postgres.py tests.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections.abc import Callable, Sequence

from ..retry import Backoff, FatalError, is_transient, with_backoff
from . import lsn_stream
from .postgres import advance_slot_sql, poll_changes_sql

RunSql = Callable[[str], Sequence[tuple]]

# wal2json format-2 commit document marker, tolerant of whitespace around
# the colon (pinned next to the poll options in poll_changes_sql — the
# predicate and the emitting options must move together).
_WAL2JSON_COMMIT_RE = re.compile(r'"action"\s*:\s*"C"')

# Raw segment schema (decode happens JVM-side via wal2json.decode_wal2json).
RAW_WAL_SCHEMA_DDL = lsn_stream.RAW_WAL_SCHEMA_DDL

# The longest a received commit waits in the pump for its segment. It
# also bounds how long `ReplicationConnection.frames()` waits on a quiet
# socket before yielding an idle tick, so a lone commit is cut about
# this long after it arrived.
SEGMENT_AGE_S = 0.25


def lsn_to_int(lsn: str | int) -> int:
    """'X/Y' pg_lsn text -> 64-bit int (hi<<32 | lo)."""
    if isinstance(lsn, int):
        return lsn
    hi, lo = lsn.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def int_to_lsn(v: int) -> str:
    return f"{v >> 32:X}/{v & 0xFFFFFFFF:X}"


def _publish_segment(wal_dir: str, start_lsn: int, end_lsn: int, table) -> None:
    """Publish one segment covering [start_lsn, end_lsn] atomically and
    durably: write a temp file and fsync it, rename it into place, fsync
    the directory. The stream source never lists a partial file, and a
    segment whose end the pump then acks survives a power loss (the
    server may drop the acked WAL). The one place a segment reaches its
    final name."""
    import pyarrow.parquet as pq

    final = lsn_stream.segment_path(wal_dir, start_lsn, end_lsn)
    tmp = final + ".tmp"
    with open(tmp, "wb") as f:
        pq.write_table(table, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final)
    fd = os.open(os.path.dirname(final) or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def write_raw_segment(wal_dir: str, start_lsn: int, rows: list[tuple]) -> int:
    """Write one (lsn, xid, data) segment covering [start_lsn, max lsn],
    atomically (tmp + rename — the stream source must never list a partial
    file). Returns the segment end LSN."""
    import pyarrow as pa

    end_lsn = max(lsn_to_int(r[0]) for r in rows)
    table = pa.table(
        {
            "lsn": pa.array([lsn_to_int(r[0]) for r in rows], pa.int64()),
            "xid": pa.array(
                [None if r[1] is None else int(r[1]) for r in rows], pa.int64()
            ),
            "data": pa.array([r[2] for r in rows], pa.string()),
        }
    )
    _publish_segment(wal_dir, start_lsn, end_lsn, table)
    return end_lsn


def gc_segments(wal_dir: str) -> list[str]:
    """Delete segments wholly at or below the consumer-confirmed LSN (the
    `_confirmed` file written by the stream source's commit())."""
    confirmed = lsn_stream.confirmed_lsn(wal_dir)
    if confirmed is None:
        return []
    removed = []
    for _s, e, path in lsn_stream.list_segments(wal_dir):
        if e <= confirmed:
            os.remove(path)
            removed.append(path)
    return removed


def write_envelope_segment(
    wal_dir: str, start_lsn: int, rows: list[dict], end_lsn: int | None = None
) -> int:
    """Write one decoded-envelope segment (rows from
    `pgoutput.frames_to_envelope`) covering [start_lsn, end_lsn]. When
    `end_lsn` is given it should be the last included transaction's
    COMMIT-record end LSN — with interleaved transactions, individual row
    LSNs are NOT monotonic in commit order and may fall below the segment
    range; only commit ends are safe chain boundaries."""
    import pyarrow as pa

    if end_lsn is None:
        end_lsn = max(r["lsn"] for r in rows)
    map_t = pa.map_(pa.string(), pa.string())
    as_items = lambda m: None if m is None else list(m.items())  # noqa: E731
    table = pa.table(
        {
            "op": pa.array([r["op"] for r in rows], pa.string()),
            "lsn": pa.array([r["lsn"] for r in rows], pa.int64()),
            "txn_seq": pa.array([r.get("txn_seq", 1) for r in rows], pa.int64()),
            "xid": pa.array([r["xid"] for r in rows], pa.int64()),
            "commit_ts": pa.array(
                [r["commit_ts_us"] for r in rows], pa.timestamp("us")
            ),
            "schema": pa.array([r["schema"] for r in rows], pa.string()),
            "table": pa.array([r["table"] for r in rows], pa.string()),
            "before": pa.array([as_items(r["before"]) for r in rows], map_t),
            "after": pa.array([as_items(r["after"]) for r in rows], map_t),
        }
    )
    _publish_segment(wal_dir, start_lsn, end_lsn, table)
    return end_lsn


RELATION_SCHEMA_DIR = "_schema"  # leading underscore: Spark's file index
# treats the path as hidden, so the stream reader over wal_dir never
# lists it as a data file.


def write_relation_schema(wal_dir: str, namespace: str, name: str,
                          columns: list[tuple[str, str]]) -> None:
    """Persist a Relation message's live column list as a sidecar
    (`wal_dir/_schema/<schema>.<table>.json`): the transport-level record
    of the table's CURRENT shape, refreshed on every pgoutput Relation
    re-send (the reference's schema authority, relation.go:11-19).
    Atomic replace; skipped when unchanged (Relation re-sends happen on
    every new decoder session, not just after DDL).

    `seen` accumulates the UNION of every column name any Relation
    message has ever carried for this table — the provenance record that
    lets drop inference distinguish "the live table dropped this column"
    (name in seen, absent from columns) from "the declared DDL leads the
    live schema" (name never seen) — ADVICE r9: a declaration ahead of
    the actual PG DDL must not be masked dead (the mask physically NULLs
    carried-forward values in every bucket rewritten meanwhile, and the
    later re-add raises a rebuild)."""
    d = os.path.join(wal_dir, RELATION_SCHEMA_DIR)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{namespace}.{name}.json")
    seen = {c for c, _t in columns}
    prior = _read_sidecar(path)
    if prior is not None:
        seen |= set(prior.get("seen") or (c for c, _t in prior["columns"]))
    payload = {"columns": [[c, t] for c, t in columns], "seen": sorted(seen)}
    if prior == payload:
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def _read_sidecar(path: str) -> dict | None:
    try:
        with open(path) as f:
            doc = json.load(f)
        doc["columns"]  # shape check
        return doc
    except (OSError, ValueError, KeyError):
        return None


def read_relation_sidecar(wal_dir: str, table: str) -> dict | None:
    """Full sidecar document for a qualified table ("public.users" —
    unqualified names assume public): {"columns": [[name, pg_type], ...],
    "seen": [name, ...]} or None when the pump has not yet seen a
    Relation message for it. Sidecars written before the `seen` field
    existed report seen == current column names (the safe reading: no
    drop can be inferred from them until the pump refreshes the file)."""
    sch, _, tbl = table.rpartition(".")
    doc = _read_sidecar(
        os.path.join(wal_dir, RELATION_SCHEMA_DIR, f"{sch or 'public'}.{tbl}.json")
    )
    if doc is not None and not doc.get("seen"):
        doc["seen"] = [c for c, _t in doc["columns"]]
    return doc


def _segment_frontier(wal_dir: str, floor: int = 0) -> int:
    """The durable segment log's end: the highest segment end LSN under
    `wal_dir`, or `floor` when it holds no segment."""
    return max((e for _s, e, _p in lsn_stream.list_segments(wal_dir)), default=floor)


def pump_frames(
    frames,
    wal_dir: str,
    send_status=None,
    batch_rows: int = 1000,
    start_lsn: int | None = None,
    record_schema: bool = True,
) -> int:
    """The socket-transport pump: COPY-BOTH frames -> decoded envelope
    segments -> standby-status acks (the reference's message loop,
    stream.go:302-348 + 718-733, with the durable segment log in place of
    the in-process handler channel).

    Transactions are delivered WHOLE (`pgoutput.frames_to_committed_txns`
    buffers per top-level xid, like the reference's per-XID assembly) and
    segments cut at COMMIT boundaries, so a transaction never spans a
    segment edge (replay after a crash re-reads whole transactions —
    at-least-once, idempotent downstream). A segment is cut once
    `batch_rows` rows are pending, or once the oldest pending commit has
    waited `SEGMENT_AGE_S`: a commit on a paced or quiet stream is not
    held back for rows that have not arrived yet. The age runs from the
    local monotonic time the pump received the commit, never from its
    commit timestamp, so a retained backlog drained at once is still cut
    by rows. It is checked on every frame, keepalives included, and on
    the idle ticks `ReplicationConnection.frames()` yields on a quiet
    socket (which the decoder skips).

    The durable frontier and replay dedup work at TRANSACTION granularity
    on the COMMIT record's end LSN — the position the server's own
    confirmed_flush_lsn tracks — never on per-row LSNs: with interleaved
    transactions, a later-committing transaction's row records sit at
    LOWER WAL positions than an earlier-committing one's (first live-
    server run caught exactly that: per-row `lsn > frontier` filtering
    silently dropped the later transaction), and the first record after
    slot creation sits exactly AT the consistent point. A stream cut
    mid-transaction discards the incomplete tail instead of flushing
    uncommitted rows.

    Keepalives trigger an ack of the durable frontier; a `reply_requested`
    keepalive acks immediately. Returns the final frontier LSN.
    `send_status(received, flushed, applied)` is typically
    `ReplicationConnection.send_standby_status`."""
    from .pgoutput import PrimaryKeepalive, frames_to_committed_txns, pg_type_name

    frontier = _segment_frontier(wal_dir, start_lsn or 0)
    pending: list[dict] = []
    last_end = frontier
    oldest = None  # monotonic receipt time of the oldest pending commit
    # Ack watermark for EMPTY transactions (commits with no rows for the
    # published tables — a busy server with a quiet published table emits
    # them continuously): they add nothing durable, but the slot's
    # confirmed_flush_lsn must still move past them or WAL retention
    # grows without bound behind the slot. Advanced only while nothing
    # is pending — acking past undurable buffered rows would let the
    # server drop them on reconnect.
    ack_floor = frontier

    def ack():
        if send_status:
            pos = max(frontier, ack_floor) + 1
            send_status(pos, pos, pos)

    def flush():
        nonlocal frontier, pending, oldest
        if pending and last_end > frontier:
            write_envelope_segment(wal_dir, frontier + 1, pending, end_lsn=last_end)
            frontier = last_end
        pending, oldest = [], None
        ack()

    def dml_frames():
        # pending holds whole transactions whenever the decoder asks for
        # a frame, so an age cut here still ends at a commit boundary
        for f in frames:
            if oldest is not None and time.monotonic() - oldest >= SEGMENT_AGE_S:
                flush()
            # envelope decode skips keepalives — tee them here for acking
            if isinstance(f, PrimaryKeepalive):
                if f.reply_requested:
                    ack()
                continue
            yield f

    on_relation = None
    if record_schema:
        # persist every Relation (re-)send's column list so typed
        # consumers can widen their schema mid-stream (engine
        # start(evolve_schema=True) reads it per micro-batch)
        def on_relation(rel):
            write_relation_schema(
                wal_dir,
                rel.namespace,
                rel.name,
                [(c.name, pg_type_name(c.type_oid)) for c in rel.columns],
            )

    for end_lsn, rows in frames_to_committed_txns(
        dml_frames(), on_relation=on_relation
    ):
        if end_lsn <= frontier or not rows:
            # replayed duplicate after restart, or a transaction with no
            # rows for the published tables — nothing durable to add (an
            # empty txn must NOT advance the SEGMENT frontier without a
            # segment, or the chain would show a gap). The ACK position
            # may advance past an empty txn when nothing is pending;
            # either way ack so a replay-heavy resume keeps the slot
            # advancing instead of going silent until the next keepalive.
            if end_lsn > frontier and not pending:
                ack_floor = max(ack_floor, end_lsn)
            ack()
            continue
        pending.extend(rows)
        last_end = end_lsn
        if oldest is None:
            oldest = time.monotonic()
        if len(pending) >= batch_rows:
            flush()
    if pending:
        flush()
    else:
        ack()  # shutdown final flush even when idle
    return frontier


def run_replication(
    host: str,
    port: int,
    user: str,
    database: str,
    slot: str,
    publications: list[str],
    wal_dir: str,
    password: str | None = None,
    start_lsn: int = 0,
    batch_rows: int = 1000,
    proto_version: int = 2,
) -> int:
    """The socket transport in one call (the reference's `connector.Start`
    replication path, stream.go:121-143 connect/start + :302-348 loop):
    dial with replication=database, START_REPLICATION the slot, pump the
    COPY-BOTH stream into commit-aligned envelope segments under `wal_dir`,
    acking each durable write via standby-status. Resumes from the durable
    segment log (the frontier overrides `start_lsn` when segments exist),
    so a crashed pump restarts exactly where its last rename landed.
    Returns the final frontier LSN when the server ends the stream."""
    from .replication_client import ReplicationConnection

    os.makedirs(wal_dir, exist_ok=True)
    frontier = _segment_frontier(wal_dir, start_lsn)
    conn = ReplicationConnection.connect(host, port, user, database, password)
    try:
        conn.start_replication(slot, frontier, publications, proto_version)
        return pump_frames(
            conn.frames(),
            wal_dir,
            send_status=conn.send_standby_status,
            batch_rows=batch_rows,
            start_lsn=frontier,
        )
    finally:
        conn.close()


def run_replication_resilient(
    host: str,
    port: int,
    user: str,
    database: str,
    slot: str,
    publications: list[str],
    wal_dir: str,
    password: str | None = None,
    start_lsn: int = 0,
    batch_rows: int = 1000,
    proto_version: int = 2,
    backoff: Backoff | None = None,
    sleep: Callable[[float], None] = time.sleep,
    on_retry: Callable[[int, BaseException], None] | None = None,
) -> int:
    """`run_replication` under the reconnect policy of the reference's
    connector (connector.go:446-559): a transient failure — dropped socket,
    server restart, connection refused — backs off and redials instead of
    crashing the pipeline, and any durable progress (a segment landed
    before the drop) resets the retry budget, so only a *stalled* endpoint
    exhausts it. Resume is free: each attempt restarts from the segment-log
    frontier and replayed rows are deduped there. Non-transient errors
    (auth failure, bad slot name) and exhausted budgets raise FatalError —
    failing loudly beats silently wedging a slot that pins server WAL."""
    backoff = backoff or Backoff()
    delays = list(backoff.delays())
    attempt = 0
    while True:
        before = _segment_frontier(wal_dir, start_lsn)
        try:
            return run_replication(
                host,
                port,
                user,
                database,
                slot,
                publications,
                wal_dir,
                password=password,
                start_lsn=start_lsn,
                batch_rows=batch_rows,
                proto_version=proto_version,
            )
        except FatalError:
            raise
        except Exception as exc:  # noqa: BLE001 — classified below
            if not is_transient(exc):
                raise FatalError(f"non-retryable: {exc}") from exc
            if _segment_frontier(wal_dir, start_lsn) > before:
                attempt = 0
            if attempt >= len(delays):
                raise FatalError(
                    f"reconnect budget exhausted after {attempt + 1} stalled attempts: {exc}"
                ) from exc
            if on_retry:
                on_retry(attempt + 1, exc)
            sleep(delays[attempt])
            attempt += 1


class SlotKeeper:
    """Single-writer loop owning one replication slot (the reference runs
    exactly one active replication connection per slot; passive instances
    wait in `capture_slot`)."""

    def __init__(
        self,
        run_sql: RunSql,
        wal_dir: str,
        slot_name: str,
        tables: list[str] | None = None,
        start_lsn: int = 0,
        poll_limit: int = 10000,
        poll_interval_s: float = 1.0,
        keepalive_interval_s: float = 10.0,
        heartbeat_sql: str | None = None,
        backoff: Backoff | None = None,
        sleep: Callable[[float], None] = time.sleep,
        clock: Callable[[], float] = time.monotonic,
        plugin: str = "wal2json",
    ):
        self.run_sql = run_sql
        self.wal_dir = wal_dir
        self.slot_name = slot_name
        self.tables = tables
        # the slot's decoder plugin: wal2json (production) or test_decoding
        # (contrib fallback present in every PG build) — must match the
        # plugin the slot was created with (create_slot_sql)
        self.plugin = plugin
        self.poll_limit = poll_limit
        self.poll_interval_s = poll_interval_s
        self.keepalive_interval_s = keepalive_interval_s
        self.heartbeat_sql = heartbeat_sql
        self.backoff = backoff or Backoff()
        self._sleep = sleep
        self._clock = clock
        self._stop = threading.Event()
        os.makedirs(wal_dir, exist_ok=True)
        # Frontier recovery (crash between write and advance): the durable
        # segment log is authoritative for what has been received.
        self.frontier = _segment_frontier(wal_dir, start_lsn)
        self._advanced = -1
        self._last_activity = self._clock()

    # -- one protocol step each ---------------------------------------------

    def _is_commit_row(self, data: str) -> bool:
        """Transaction-boundary marker per plugin: test_decoding emits a
        `COMMIT <xid> (at <ts>)` line, wal2json format-2 a `{"action":"C"}`
        document. The wal2json match is a whitespace-tolerant regex
        (ADVICE r9): a pretty-print formatting option must degrade
        loudly-visibly in tests, not silently revert segmentation to
        unaligned cuts. False positives from column VALUES are impossible
        either way — inside a JSON string the quotes would be escaped."""
        if self.plugin == "test_decoding":
            return data.startswith("COMMIT")
        return _WAL2JSON_COMMIT_RE.search(data) is not None

    def _split_committed(self, rows: list[tuple]) -> tuple[list[tuple], list[tuple]]:
        """(shipped, trailing): walk the peek output's contiguous
        BEGIN..COMMIT blocks (logical decoding emits whole txns in commit
        order, never interleaved) and keep each block iff its COMMIT line
        sits ABOVE the frontier; `trailing` is the tail after the last
        COMMIT — a transaction the LIMIT cut mid-flight.

        Replay dedup is at COMMIT granularity, NEVER per-row lsn (the
        pump's rule, `pump_frames`): adjacent transactions can share
        reported LSNs at the boundary — a COMMIT line's lsn can equal the
        NEXT transaction's first-change lsn (live-found: after an advance
        to the commit position, the follow-up txn's BEGIN and first DML
        peek at exactly the frontier) — so `lsn > frontier` row filtering
        silently drops the head of the next transaction. A block ships or
        drops WHOLE on its commit position, which is strictly increasing
        across transactions."""
        shipped: list[tuple] = []
        block: list[tuple] = []
        for r in rows:
            block.append(r)
            if self._is_commit_row(r[2]):
                if lsn_to_int(r[0]) > self.frontier:
                    shipped.extend(block)
                block = []
        return shipped, block

    def poll_once(self) -> int:
        """PEEK new changes; write them as the next COMMIT-ALIGNED segment.
        Returns the number of NEW rows shipped.

        Segments are cut at the LAST transaction boundary in the peeked
        window (the same whole-transaction contract the pgoutput pump
        keeps, `pump_frames`): rows after the final COMMIT marker are a
        transaction the LIMIT cut mid-flight — they stay unshipped (the
        frontier doesn't pass their commit, so the next peek re-reads the
        transaction whole). This makes every raw segment self-contained
        for the test_decoding arm's per-xid commit-timestamp join (a txn
        can never straddle a segment, so the per-micro-batch decode
        always sees its COMMIT — r8 verdict item 5; wal2json DML docs
        carry their own timestamp either way). When a single transaction
        out-sizes the window, the peek retries with a doubled LIMIT
        (bounded); a transaction still unbounded after that ships
        unaligned — at-least-once holds, only its commit_ts degrades to
        NULL, never a wrong value."""
        limit = self.poll_limit
        shipped: list[tuple] = []
        for _attempt in range(6):
            sql = poll_changes_sql(
                self.slot_name, self.tables, limit=limit, plugin=self.plugin
            )
            rows = with_backoff(
                lambda sql=sql: self.run_sql(sql), self.backoff, sleep=self._sleep
            )
            if not rows:
                return 0
            shipped, trailing = self._split_committed(rows)
            if shipped:
                break
            if len(rows) < limit:
                # slot exhausted with no commit marker above the frontier:
                # either everything peeked is replay (drop by row — a
                # complete replayed txn never ends above the frontier) or
                # the plugin/option mix emits no txn markers (ship as-is,
                # the pre-r9 behavior). Boundary-shared rows (lsn ==
                # frontier) dropped here are NOT lost: their transaction's
                # COMMIT is by construction not in this window, and once
                # it appears _split_committed ships the block WHOLE on its
                # commit position regardless of row lsns — re-delivery,
                # which the merge dedups on (pk, lsn, txn_seq).
                shipped = [r for r in trailing if lsn_to_int(r[0]) > self.frontier]
                break
            limit *= 2  # a txn bigger than the window: widen and re-peek
        else:
            # no commit marker within 6 attempts — the initial 1x peek
            # plus five doublings, so the largest window tried is 32x
            # poll_limit (a txn out-sizing that ships the partial txn
            # unaligned rather than stall). Reaching here REQUIRES zero
            # commits above the
            # frontier in the window, so advancing past these rows cannot
            # skip any commit; when the giant txn's COMMIT finally peeks,
            # its block ships WHOLE (commit > frontier) — every row
            # re-delivers, including any boundary-lsn rows the per-row
            # filter dropped here. At-least-once holds via re-delivery;
            # only commit_ts degrades to NULL for the partial segment.
            shipped = [r for r in rows if lsn_to_int(r[0]) > self.frontier]
        if not shipped:
            return 0
        end = write_raw_segment(self.wal_dir, self.frontier + 1, shipped)
        self.frontier = end
        self._last_activity = self._clock()
        return len(shipped)

    def advance_once(self) -> bool:
        """Ack the durably-written frontier on the server (idempotent).
        A zero frontier (nothing shipped yet, no start position) must NOT
        be acked: the server rejects '0/0' as an invalid target WAL LSN
        and the resulting FatalError would kill the loop before its first
        real poll (found live — the fake server accepted it silently)."""
        if self.frontier <= self._advanced or self.frontier <= 0:
            return False
        target = self.frontier
        with_backoff(
            lambda: self.run_sql(advance_slot_sql(self.slot_name, int_to_lsn(target))),
            self.backoff,
            sleep=self._sleep,
        )
        self._advanced = target
        return True

    def keepalive_once(self) -> bool:
        """Idle keepalive (stream.go:372-393 ticker): a heartbeat write
        generates WAL so the slot's restart_lsn keeps moving on an
        otherwise-quiet database, and proves the connection is alive."""
        if self._clock() - self._last_activity < self.keepalive_interval_s:
            return False
        if self.heartbeat_sql:
            with_backoff(
                lambda: self.run_sql(self.heartbeat_sql), self.backoff, sleep=self._sleep
            )
        self._last_activity = self._clock()
        return True

    def final_flush(self) -> None:
        """Shutdown path (stream.go:718-733 + sigterm_lsn_flush_test.go):
        one last advance so a clean stop never leaves the server behind the
        durable segment log."""
        self.advance_once()

    # -- the loop -----------------------------------------------------------

    def stop(self) -> None:
        self._stop.set()

    def run(self, max_iterations: int | None = None) -> None:
        """Poll → advance → keepalive until stop() (or max_iterations, for
        tests/cron-style invocation). Always final-flushes on exit."""
        it = 0
        try:
            while not self._stop.is_set():
                if max_iterations is not None and it >= max_iterations:
                    break
                it += 1
                shipped = self.poll_once()
                self.advance_once()
                self.keepalive_once()
                gc_segments(self.wal_dir)
                if shipped == 0 and not self._stop.is_set():
                    self._sleep(self.poll_interval_s)
        finally:
            self.final_flush()
