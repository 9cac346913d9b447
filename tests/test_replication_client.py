"""O1 socket client vs an in-process fake PostgreSQL: startup dialogue,
md5 + SCRAM-SHA-256 auth (RFC 5802 both sides), START_REPLICATION into
COPY-BOTH, XLogData framing into the pgoutput decoder, standby-status
acks (the container has no PG server; the wire grammar is what is
tested — same seam strategy as the slot-keeper suite)."""

from __future__ import annotations

import hashlib
import hmac
import socket
import struct
import threading
from base64 import b64decode, b64encode

import pytest

from go_pq_cdc_spark.sources.pgoutput import Idle, Insert, PgOutputDecoder, PrimaryKeepalive
from go_pq_cdc_spark.sources.replication_client import (
    ReplicationConnection,
    ReplicationError,
)

from .test_pgoutput import insert_msg, relation_msg


def _msg(tag: bytes, body: bytes = b"") -> bytes:
    return tag + struct.pack(">i", len(body) + 4) + body


class FakePgServer(threading.Thread):
    """Speaks just enough backend protocol for one replication session."""

    def __init__(self, auth="trust", password="secret", user="repl", stream=None, expect_acks=1):
        super().__init__(daemon=True)
        self.auth, self.password, self.user = auth, password, user
        self.stream, self.expect_acks = stream, expect_acks
        self.listener = socket.socket()
        self.listener.bind(("127.0.0.1", 0))
        self.listener.listen(1)
        self.port = self.listener.getsockname()[1]
        self.received_status: list[tuple] = []
        self.startup_params: dict = {}
        self._rbuf = b""
        self.start_replication_sql = ""
        self.errors: list[str] = []

    # -- helpers -------------------------------------------------------------

    def _read_startup(self, conn):
        (ln,) = struct.unpack(">i", self._exact(conn, 4))
        body = self._exact(conn, ln - 4)
        (ver,) = struct.unpack_from(">i", body)
        assert ver == 196608
        fields = body[4:].rstrip(b"\x00").split(b"\x00")
        self.startup_params = {
            fields[i].decode(): fields[i + 1].decode() for i in range(0, len(fields), 2)
        }

    def _exact(self, conn, n):
        while len(self._rbuf) < n:
            chunk = conn.recv(65536)
            if not chunk:
                raise ConnectionError("client gone")
            self._rbuf += chunk
        out, self._rbuf = self._rbuf[:n], self._rbuf[n:]
        return out

    def _read_msg(self, conn):
        tag = self._exact(conn, 1)
        (ln,) = struct.unpack(">i", self._exact(conn, 4))
        return tag, self._exact(conn, ln - 4)

    def _do_auth(self, conn):
        if self.auth == "trust":
            conn.sendall(_msg(b"R", struct.pack(">i", 0)))
        elif self.auth == "md5":
            salt = b"\x01\x02\x03\x04"
            conn.sendall(_msg(b"R", struct.pack(">i", 5) + salt))
            tag, body = self._read_msg(conn)
            assert tag == b"p"
            inner = hashlib.md5((self.password + self.user).encode()).hexdigest()
            want = b"md5" + hashlib.md5(inner.encode() + salt).hexdigest().encode()
            if body.rstrip(b"\x00") != want:
                conn.sendall(_msg(b"E", b"SFATAL\x00Mpassword authentication failed\x00\x00"))
                raise ConnectionError("bad md5")
            conn.sendall(_msg(b"R", struct.pack(">i", 0)))
        elif self.auth == "scram":
            conn.sendall(_msg(b"R", struct.pack(">i", 10) + b"SCRAM-SHA-256\x00\x00"))
            tag, body = self._read_msg(conn)
            assert tag == b"p" and body.startswith(b"SCRAM-SHA-256\x00")
            (ln,) = struct.unpack_from(">i", body, 14)
            client_first = body[18 : 18 + ln].decode()
            client_first_bare = client_first.split(",", 2)[2]
            client_nonce = dict(
                p.split("=", 1) for p in client_first_bare.split(",")
            )["r"]
            salt, iters = b"saltsalt", 4096
            server_nonce = client_nonce + "SERVER"
            server_first = f"r={server_nonce},s={b64encode(salt).decode()},i={iters}"
            conn.sendall(_msg(b"R", struct.pack(">i", 11) + server_first.encode()))
            tag, body = self._read_msg(conn)
            assert tag == b"p"
            client_final = body.decode()
            parts = dict(p.split("=", 1) for p in client_final.split(","))
            assert parts["r"] == server_nonce
            salted = hashlib.pbkdf2_hmac("sha256", self.password.encode(), salt, iters)
            client_key = hmac.digest(salted, b"Client Key", "sha256")
            stored_key = hashlib.sha256(client_key).digest()
            auth_message = (
                client_first_bare + "," + server_first + ","
                + client_final.rsplit(",p=", 1)[0]
            ).encode()
            client_sig = hmac.digest(stored_key, auth_message, "sha256")
            recovered = bytes(
                a ^ b for a, b in zip(b64decode(parts["p"]), client_sig)
            )
            if hashlib.sha256(recovered).digest() != stored_key:
                conn.sendall(_msg(b"E", b"SFATAL\x00Mscram auth failed\x00\x00"))
                raise ConnectionError("bad scram proof")
            server_key = hmac.digest(salted, b"Server Key", "sha256")
            server_sig = hmac.digest(server_key, auth_message, "sha256")
            conn.sendall(
                _msg(b"R", struct.pack(">i", 12) + b"v=" + b64encode(server_sig))
            )
            conn.sendall(_msg(b"R", struct.pack(">i", 0)))
        conn.sendall(_msg(b"S", b"server_version\x0016.3\x00"))
        conn.sendall(_msg(b"K", struct.pack(">ii", 1234, 5678)))
        conn.sendall(_msg(b"Z", b"I"))

    def run(self):
        try:
            conn, _ = self.listener.accept()
            self._read_startup(conn)
            self._do_auth(conn)
            tag, body = self._read_msg(conn)
            assert tag == b"Q"
            self.start_replication_sql = body.rstrip(b"\x00").decode()
            conn.sendall(_msg(b"W", b"\x00" + struct.pack(">h", 0)))
            frames = self.stream
            if frames is None:
                # default: Relation + Insert as XLogData, then a keepalive
                frames = [
                    b"w" + struct.pack(">QQq", lsn, lsn, 0) + payload
                    for lsn, payload in ((10, relation_msg()), (11, insert_msg()))
                ] + [b"k" + struct.pack(">Qqb", 11, 0, 1)]
            for raw in frames:
                conn.sendall(_msg(b"d", raw))
            for _ in range(self.expect_acks):
                tag, body = self._read_msg(conn)
                assert tag == b"d" and body[0:1] == b"r"
                self.received_status.append(struct.unpack_from(">QQQqb", body, 1))
            conn.sendall(_msg(b"c"))  # CopyDone
            # absorb trailing acks (e.g. the pump's shutdown flush) until the
            # client hangs up
            try:
                while True:
                    tag, body = self._read_msg(conn)
                    if tag == b"d" and body[0:1] == b"r":
                        self.received_status.append(struct.unpack_from(">QQQqb", body, 1))
            except (ConnectionError, OSError):
                pass
            conn.close()
        except Exception as exc:  # surface failures to the test thread
            self.errors.append(repr(exc))


def _session(auth, password="secret"):
    srv = FakePgServer(auth=auth)
    srv.start()
    conn = ReplicationConnection.connect(
        "127.0.0.1", srv.port, "repl", "app", password
    )
    return srv, conn


class FakeSqlServer(threading.Thread):
    """Startup + trust auth, then answers simple-query 'Q' messages with a
    canned RowDescription/DataRow/CommandComplete/ReadyForQuery sequence —
    enough to pin the non-replication session + simple_query wire path."""

    def __init__(self):
        super().__init__(daemon=True)
        self.listener = socket.socket()
        self.listener.bind(("127.0.0.1", 0))
        self.listener.listen(1)
        self.port = self.listener.getsockname()[1]
        self.startup_params: dict = {}
        self.queries: list[str] = []
        self._rbuf = b""
        self.errors: list[str] = []

    _exact = FakePgServer._exact
    _read_msg = FakePgServer._read_msg
    _read_startup = FakePgServer._read_startup

    def run(self):
        try:
            conn, _ = self.listener.accept()
            self._read_startup(conn)
            conn.sendall(_msg(b"R", struct.pack(">i", 0)))
            conn.sendall(_msg(b"Z", b"I"))
            for _ in range(2):
                tag, body = self._read_msg(conn)
                assert tag == b"Q"
                self.queries.append(body.rstrip(b"\x00").decode())
                if "boom" in self.queries[-1]:
                    conn.sendall(_msg(b"E", b"SERROR\x00Mno such table\x00\x00"))
                else:
                    # T: one text column named n; two rows: '42', NULL
                    rowdesc = struct.pack(">H", 1) + b"n\x00" + struct.pack(
                        ">IhIhih", 0, 0, 25, -1, -1, 0
                    )
                    conn.sendall(_msg(b"T", rowdesc))
                    conn.sendall(_msg(b"D", struct.pack(">H", 1) + struct.pack(">i", 2) + b"42"))
                    conn.sendall(_msg(b"D", struct.pack(">H", 1) + struct.pack(">i", -1)))
                    conn.sendall(_msg(b"C", b"SELECT 2\x00"))
                conn.sendall(_msg(b"Z", b"I"))
            conn.close()
        except Exception as exc:
            self.errors.append(repr(exc))


def test_simple_query_session():
    """connect(replication=False) omits the replication startup param and
    simple_query returns text-format DataRows (NULL -> None); an
    ErrorResponse surfaces as ReplicationError after ReadyForQuery."""
    srv = FakeSqlServer()
    srv.start()
    conn = ReplicationConnection.connect(
        "127.0.0.1", srv.port, "app_user", "appdb", replication=False
    )
    assert conn.simple_query("SELECT n FROM t") == [("42",), (None,)]
    with pytest.raises(Exception, match="query failed"):
        conn.simple_query("SELECT boom")
    conn.close()
    srv.join(timeout=5)
    assert not srv.errors
    assert "replication" not in srv.startup_params
    assert srv.queries == ["SELECT n FROM t", "SELECT boom"]


@pytest.mark.parametrize("auth", ["trust", "md5", "scram"])
def test_full_replication_session(auth):
    srv, conn = _session(auth)
    assert srv.startup_params["replication"] == "database"
    assert conn.parameters["server_version"] == "16.3"

    conn.start_replication("cdc_slot", 0, ["cdc_pub"])
    assert "START_REPLICATION SLOT cdc_slot LOGICAL 0/0" in srv.start_replication_sql
    assert "proto_version '2'" in srv.start_replication_sql
    assert "publication_names 'cdc_pub'" in srv.start_replication_sql

    dec = PgOutputDecoder()
    events = []
    for frame in conn.frames():
        if isinstance(frame, PrimaryKeepalive):
            if frame.reply_requested:
                conn.send_standby_status(frame.wal_end + 1, frame.wal_end + 1, frame.wal_end + 1)
            continue
        if isinstance(frame, Idle):  # the fake server paused for a while
            continue
        events.append(dec.decode(frame.payload))
    conn.close()
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    ins = [e for e in events if isinstance(e, Insert)]
    assert len(ins) == 1 and ins[0].new == {"id": "1", "val": "1.5"}
    assert srv.received_status == [(12, 12, 12, 0, 0)]


def test_bad_password_raises():
    srv = FakePgServer(auth="md5")
    srv.start()
    with pytest.raises(ReplicationError, match="server error during auth"):
        ReplicationConnection.connect("127.0.0.1", srv.port, "repl", "app", "wrong")


def test_pump_frames_to_envelope_segments(tmp_path):
    """pump_frames: frames -> commit-aligned envelope segments + acks;
    restart resumes from the durable frontier without duplicating."""
    from go_pq_cdc_spark.sources.pgoutput import XLogData
    from go_pq_cdc_spark.sources.slot_keeper import pump_frames
    from go_pq_cdc_spark.sources import lsn_stream

    wal_dir = str(tmp_path / "wal")
    import os as _os

    _os.makedirs(wal_dir)

    def xlog(lsn, payload):
        return XLogData(lsn, lsn, 0, payload)

    def txn(begin_lsn, *dml):
        out = [xlog(begin_lsn, b"B" + struct.pack(">QqI", begin_lsn + len(dml) + 1, 0, begin_lsn))]
        out += [xlog(begin_lsn + 1 + i, p) for i, p in enumerate(dml)]
        out.append(
            xlog(
                begin_lsn + len(dml) + 1,
                b"C" + struct.pack(">bQQq", 0, begin_lsn + len(dml) + 1, begin_lsn + len(dml) + 2, 0),
            )
        )
        return out

    acks = []
    frames = [
        xlog(5, relation_msg()),
        *txn(10, insert_msg(vals=("1", "1.0")), insert_msg(vals=("2", "2.0"))),
        *txn(20, insert_msg(vals=("3", "3.0"))),
        PrimaryKeepalive(25, 0, True),
    ]
    frontier = pump_frames(
        frames, wal_dir, send_status=lambda r, f, a: acks.append(f), batch_rows=1
    )
    segs = lsn_stream.list_segments(wal_dir)
    # commit-aligned, commit-rewritten: txn1's COMMIT end is 14, txn2's 23
    # — segments chain on commit ends, never on raw row positions
    assert [(s, e) for s, e, _ in segs] == [(1, 14), (15, 23)]
    assert frontier == 23
    # acks track the durable frontier (commit end + 1): after seg1, after
    # seg2, keepalive, and the shutdown final flush
    assert acks == [15, 24, 24, 24]
    # rows carry the commit lsn + intra-transaction sequence
    import pyarrow.parquet as _pq

    seg_rows = [r for _s, _e, p in segs for r in _pq.read_table(p).to_pylist()]
    assert [(r["lsn"], r["txn_seq"]) for r in seg_rows] == [(14, 1), (14, 2), (23, 1)]

    # restart with the same WAL dir: replayed transactions are deduped by
    # commit end vs the recovered frontier — no duplicate segments
    acks2 = []
    f2 = pump_frames(
        frames, wal_dir, send_status=lambda r, f, a: acks2.append(f), batch_rows=1
    )
    assert f2 == 23
    assert [(s, e) for s, e, _ in lsn_stream.list_segments(wal_dir)] == [
        (1, 14),
        (15, 23),
    ]
    assert acks2[-1] == 24


def test_envelope_segments_through_spark_to_mirror(spark, tmp_path):
    """The socket transport end to end: pump-written envelope segments ->
    pq_cdc_wal (envelope schema) stream -> flat projection -> bucketed
    mirror. Closes the last simulated link of the O1 chain."""
    import os as _os

    from pyspark.sql import functions as F

    from go_pq_cdc_spark.sources import lsn_stream
    from go_pq_cdc_spark.sources.pgoutput import XLogData
    from go_pq_cdc_spark.sources.slot_keeper import pump_frames
    from go_pq_cdc_spark.streaming import merge_mirror_batch, read_mirror

    wal_dir = str(tmp_path / "wal")
    _os.makedirs(wal_dir)

    def xlog(lsn, payload):
        return XLogData(lsn, lsn, 0, payload)

    upd = (
        b"U" + struct.pack(">I", 16384) + b"N"
        + struct.pack(">H", 2)
        + b"t" + struct.pack(">i", 1) + b"1"
        + b"t" + struct.pack(">i", 3) + b"1.5"
    )
    delete = b"D" + struct.pack(">I", 16384) + b"K" + (
        struct.pack(">H", 2) + b"t" + struct.pack(">i", 1) + b"2" + b"n"
    )
    frames = [
        xlog(5, relation_msg()),
        xlog(9, b"B" + struct.pack(">QqI", 14, 0, 50)),
        xlog(10, insert_msg(vals=("1", "1.0"))),
        xlog(11, insert_msg(vals=("2", "2.0"))),
        xlog(12, upd),
        xlog(13, delete),
        xlog(14, b"C" + struct.pack(">bQQq", 0, 14, 15, 0)),
    ]
    pump_frames(frames, wal_dir)

    lsn_stream.register(spark)
    env = (
        spark.readStream.format("pq_cdc_wal")
        .option("path", wal_dir)
        .option("envelope", "true")
        .load()
    )
    # txn_seq must ride along: all four events share the commit lsn after
    # the transport's commit rewrite, and only txn_seq orders them
    flat = env.select(
        "op",
        "lsn",
        "txn_seq",
        "xid",
        "commit_ts",
        F.coalesce(F.col("after.id"), F.col("before.id")).cast("bigint").alias("pk"),
        F.col("after.val").cast("double").alias("after_val"),
    )
    state_dir = str(tmp_path / "state")
    q = (
        flat.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(lambda b, e: merge_mirror_batch(b, state_dir, e))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = {r["pk"]: r["after_val"] for r in read_mirror(spark, state_dir).collect()}
    assert state == {1: 1.5}  # pk1 updated, pk2 deleted


def test_run_replication_end_to_end(tmp_path):
    """run_replication: socket connect -> START_REPLICATION -> pump -> acks,
    then a second run against a fresh server resumes from the durable
    segment log (replayed rows deduped, start LSN advanced)."""
    from go_pq_cdc_spark.sources import lsn_stream
    from go_pq_cdc_spark.sources.slot_keeper import run_replication

    def xlog(lsn, payload):
        return b"w" + struct.pack(">QQq", lsn, lsn, 0) + payload

    stream = [
        xlog(5, relation_msg()),
        xlog(9, b"B" + struct.pack(">QqI", 12, 0, 42)),
        xlog(10, insert_msg(vals=("1", "1.0"))),
        xlog(11, insert_msg(vals=("2", "2.0"))),
        xlog(12, b"C" + struct.pack(">bQQq", 0, 12, 13, 0)),
        b"k" + struct.pack(">Qqb", 12, 0, 1),
    ]
    wal_dir = str(tmp_path / "wal")

    srv = FakePgServer(auth="scram", stream=stream, expect_acks=2)
    srv.start()
    frontier = run_replication(
        "127.0.0.1", srv.port, "repl", "app", "cdc_slot", ["cdc_pub"],
        wal_dir, password="secret", batch_rows=1,
    )
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    # frontier = the transaction's COMMIT end LSN (13), not the last row
    assert frontier == 13
    assert [(s, e) for s, e, _ in lsn_stream.list_segments(wal_dir)] == [(1, 13)]
    assert "SLOT cdc_slot LOGICAL 0/0" in srv.start_replication_sql
    # every ack reports the durable frontier + 1
    assert srv.received_status and all(st[:3] == (14, 14, 14) for st in srv.received_status)

    srv2 = FakePgServer(stream=stream, expect_acks=2)
    srv2.start()
    f2 = run_replication(
        "127.0.0.1", srv2.port, "repl", "app", "cdc_slot", ["cdc_pub"],
        wal_dir, password="secret", batch_rows=1,
    )
    srv2.join(timeout=5)
    assert not srv2.errors, srv2.errors
    assert f2 == 13
    assert "SLOT cdc_slot LOGICAL 0/D" in srv2.start_replication_sql
    assert [(s, e) for s, e, _ in lsn_stream.list_segments(wal_dir)] == [(1, 13)]


class FlakyPgServer(FakePgServer):
    """Serves several replication sessions in sequence. Each session sends
    its frames, reads `expect_acks` standby-status messages, then either
    drops the socket with no CopyDone ("drop") or ends cleanly ("done")."""

    def __init__(self, sessions):
        super().__init__(auth="trust")
        self.sessions = sessions
        self.start_replication_sqls: list[str] = []

    def run(self):
        try:
            for frames, expect_acks, end in self.sessions:
                conn, _ = self.listener.accept()
                self._rbuf = b""
                self._read_startup(conn)
                self._do_auth(conn)
                tag, body = self._read_msg(conn)
                assert tag == b"Q"
                self.start_replication_sqls.append(body.rstrip(b"\x00").decode())
                conn.sendall(_msg(b"W", b"\x00" + struct.pack(">h", 0)))
                for raw in frames:
                    conn.sendall(_msg(b"d", raw))
                for _ in range(expect_acks):
                    tag, body = self._read_msg(conn)
                    assert tag == b"d" and body[0:1] == b"r"
                    self.received_status.append(struct.unpack_from(">QQQqb", body, 1))
                if end == "drop":
                    conn.close()
                    continue
                conn.sendall(_msg(b"c"))
                try:
                    while True:
                        tag, body = self._read_msg(conn)
                        if tag == b"d" and body[0:1] == b"r":
                            self.received_status.append(
                                struct.unpack_from(">QQQqb", body, 1)
                            )
                except (ConnectionError, OSError):
                    pass
                conn.close()
        except Exception as exc:  # surface failures to the test thread
            self.errors.append(repr(exc))


def test_run_replication_resilient_survives_mid_txn_drop(tmp_path):
    """Server drops the socket mid-transaction (after txn 1 committed, txn 2
    half-sent): the resilient loop redials, resumes from the durable
    frontier, and the replayed transaction lands exactly once. Durable
    progress resets the retry budget."""
    from go_pq_cdc_spark.sources import lsn_stream
    from go_pq_cdc_spark.sources.slot_keeper import run_replication_resilient
    from go_pq_cdc_spark.retry import Backoff

    def xlog(lsn, payload):
        return b"w" + struct.pack(">QQq", lsn, lsn, 0) + payload

    session1 = [
        xlog(5, relation_msg()),
        xlog(9, b"B" + struct.pack(">QqI", 12, 0, 42)),
        xlog(10, insert_msg(vals=("1", "1.0"))),
        xlog(12, b"C" + struct.pack(">bQQq", 0, 12, 13, 0)),
        xlog(20, b"B" + struct.pack(">QqI", 22, 0, 43)),
        xlog(21, insert_msg(vals=("2", "2.0"))),  # no commit -> dropped txn
    ]
    session2 = [
        xlog(5, relation_msg()),  # real PG re-sends Relation on a new session
        xlog(20, b"B" + struct.pack(">QqI", 22, 0, 43)),
        xlog(21, insert_msg(vals=("2", "2.0"))),
        xlog(22, b"C" + struct.pack(">bQQq", 0, 22, 23, 0)),
        b"k" + struct.pack(">Qqb", 22, 0, 1),
    ]
    srv = FlakyPgServer([(session1, 1, "drop"), (session2, 1, "done")])
    srv.start()
    wal_dir = str(tmp_path / "wal")
    sleeps: list[float] = []
    retries: list[int] = []
    frontier = run_replication_resilient(
        "127.0.0.1", srv.port, "repl", "app", "cdc_slot", ["cdc_pub"],
        wal_dir, batch_rows=1, backoff=Backoff(base_delay_s=0.01, max_tries=3),
        sleep=sleeps.append, on_retry=lambda n, exc: retries.append(n),
    )
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    assert frontier == 23
    # two segments chained on commit ends, txn2 exactly once despite the
    # replay — and the DANGLING half-transaction of session 1 (B at 20,
    # row at 21, socket dropped before its commit) is NEVER flushed
    assert [(s, e) for s, e, _ in lsn_stream.list_segments(wal_dir)] == [
        (1, 13),
        (14, 23),
    ]
    import duckdb

    lsns = [
        r[0]
        for r in duckdb.sql(
            f"SELECT lsn FROM read_parquet('{wal_dir}/*.parquet') ORDER BY lsn"
        ).fetchall()
    ]
    assert lsns == [13, 23]  # commit-rewritten positions
    # the redial resumed from the durable frontier, not from scratch
    assert "SLOT cdc_slot LOGICAL 0/0" in srv.start_replication_sqls[0]
    assert "SLOT cdc_slot LOGICAL 0/D" in srv.start_replication_sqls[1]
    # one reconnect, and progress before the drop reset the budget to delay[0]
    assert retries == [1]
    assert sleeps == [0.01]


def test_run_replication_resilient_auth_failure_is_fatal(tmp_path):
    """A non-transient error (bad password) must NOT be retried — it raises
    FatalError on the first attempt with no backoff sleep."""
    from go_pq_cdc_spark.retry import Backoff, FatalError
    from go_pq_cdc_spark.sources.slot_keeper import run_replication_resilient

    srv = FakePgServer(auth="md5", password="right")
    srv.start()
    sleeps: list[float] = []
    with pytest.raises(FatalError, match="non-retryable"):
        run_replication_resilient(
            "127.0.0.1", srv.port, "repl", "app", "cdc_slot", ["cdc_pub"],
            str(tmp_path / "wal"), password="wrong",
            backoff=Backoff(base_delay_s=0.01, max_tries=4), sleep=sleeps.append,
        )
    assert sleeps == []


def test_run_replication_resilient_exhausts_budget_without_progress(tmp_path):
    """A dead endpoint (connection refused, no progress ever) exhausts the
    retry budget and raises FatalError after max_tries attempts."""
    from go_pq_cdc_spark.retry import Backoff, FatalError
    from go_pq_cdc_spark.sources.slot_keeper import run_replication_resilient

    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    dead_port = probe.getsockname()[1]
    probe.close()
    sleeps: list[float] = []
    with pytest.raises(FatalError, match="reconnect budget exhausted"):
        run_replication_resilient(
            "127.0.0.1", dead_port, "repl", "app", "cdc_slot", ["cdc_pub"],
            str(tmp_path / "wal"),
            backoff=Backoff(base_delay_s=0.01, max_tries=3), sleep=sleeps.append,
        )
    assert sleeps == [0.01, 0.02]


def test_run_replication_resilient_waits_out_busy_slot(tmp_path):
    """A slot held by the active instance ('replication slot is active for
    PID n') is retryable: the passive standby backs off and captures the
    slot when the holder releases it — the reference's takeover loop."""
    from go_pq_cdc_spark.retry import Backoff
    from go_pq_cdc_spark.sources import lsn_stream
    from go_pq_cdc_spark.sources.slot_keeper import run_replication_resilient

    def xlog(lsn, payload):
        return b"w" + struct.pack(">QQq", lsn, lsn, 0) + payload

    stream = [
        xlog(5, relation_msg()),
        xlog(9, b"B" + struct.pack(">QqI", 12, 0, 42)),
        xlog(10, insert_msg(vals=("1", "1.0"))),
        xlog(12, b"C" + struct.pack(">bQQq", 0, 12, 13, 0)),
        b"k" + struct.pack(">Qqb", 12, 0, 1),
    ]

    class BusyThenFreeServer(FlakyPgServer):
        def run(self):
            try:
                # session 1: reject START_REPLICATION — slot busy
                conn, _ = self.listener.accept()
                self._rbuf = b""
                self._read_startup(conn)
                self._do_auth(conn)
                tag, _body = self._read_msg(conn)
                assert tag == b"Q"
                conn.sendall(
                    _msg(
                        b"E",
                        b"SERROR\x00C55006\x00Mreplication slot \"cdc_slot\" "
                        b"is active for PID 4242\x00\x00",
                    )
                )
                conn.close()
                # session 2: holder released the slot — serve the stream
                FlakyPgServer.run(self)
            except Exception as exc:
                self.errors.append(repr(exc))

    srv = BusyThenFreeServer([(stream, 1, "done")])
    srv.start()
    wal_dir = str(tmp_path / "wal")
    sleeps: list[float] = []
    frontier = run_replication_resilient(
        "127.0.0.1", srv.port, "repl", "app", "cdc_slot", ["cdc_pub"],
        wal_dir, batch_rows=1,
        backoff=Backoff(base_delay_s=0.01, max_tries=4), sleep=sleeps.append,
    )
    srv.join(timeout=5)
    assert not srv.errors, srv.errors
    assert frontier == 13
    assert [(s, e) for s, e, _ in lsn_stream.list_segments(wal_dir)] == [(1, 13)]
    assert sleeps == [0.01]  # one busy rejection, then takeover


def test_pump_empty_txns_advance_ack_not_frontier(tmp_path):
    """Review r7: a busy server with a quiet published table emits commits
    with no published rows continuously; the ACK must move past them (or
    WAL piles up behind the slot) while the SEGMENT frontier stays put —
    and the ack must NEVER pass buffered undurable rows."""
    from go_pq_cdc_spark.sources import lsn_stream
    from go_pq_cdc_spark.sources.pgoutput import XLogData
    from go_pq_cdc_spark.sources.slot_keeper import pump_frames

    wal_dir = str(tmp_path / "wal")
    import os as _os

    _os.makedirs(wal_dir)

    def xlog(lsn, payload):
        return XLogData(lsn, lsn, 0, payload)

    def empty_txn(begin_lsn, end_lsn):
        return [
            xlog(begin_lsn, b"B" + struct.pack(">QqI", end_lsn - 1, 0, begin_lsn)),
            xlog(
                end_lsn - 1,
                b"C" + struct.pack(">bQQq", 0, end_lsn - 1, end_lsn, 0),
            ),
        ]

    frames = [
        xlog(5, relation_msg()),
        xlog(9, b"B" + struct.pack(">QqI", 12, 0, 42)),
        xlog(10, insert_msg(vals=("1", "1.0"))),
        xlog(12, b"C" + struct.pack(">bQQq", 0, 12, 13, 0)),
        *empty_txn(20, 30),  # other tables' txn: no published rows
        *empty_txn(31, 44),
    ]
    acks = []
    frontier = pump_frames(
        frames, wal_dir, send_status=lambda r, f, a: acks.append(f), batch_rows=1
    )
    # durable frontier = the row txn's commit end; segments unchanged by
    # the empty txns
    assert frontier == 13
    assert [(s, e) for s, e, _ in lsn_stream.list_segments(wal_dir)] == [(1, 13)]
    # the ack walked past both empty commits (30 then 44)
    assert acks == [14, 31, 45, 45]

    # pending-rows case: with a large batch the row txn stays buffered, so
    # an empty txn must NOT drag the ack past the undurable rows
    wal2 = str(tmp_path / "wal2")
    _os.makedirs(wal2)
    acks2 = []
    f2 = pump_frames(
        [
            xlog(5, relation_msg()),
            xlog(9, b"B" + struct.pack(">QqI", 12, 0, 42)),
            xlog(10, insert_msg(vals=("1", "1.0"))),
            xlog(12, b"C" + struct.pack(">bQQq", 0, 12, 13, 0)),
            *empty_txn(20, 30),
        ],
        wal2,
        send_status=lambda r, f, a: acks2.append(f),
        batch_rows=100,
    )
    assert f2 == 13
    assert max(acks2) == 14  # never past the buffered txn until its flush


def test_pump_segments_recode_arrays_as_json(tmp_path):
    """The pump's envelope segments must carry array columns as JSON text
    (the cross-transport convention typed_projection expects) — r7 found
    the pump's private decode path skipped the recode that
    frames_to_envelope applied, so engine-lifecycle array columns reached
    the typed projection as raw PG '{...}' text. One decoder now."""
    import pyarrow.parquet as pq

    from go_pq_cdc_spark.sources import lsn_stream
    from go_pq_cdc_spark.sources.pgoutput import XLogData
    from go_pq_cdc_spark.sources.slot_keeper import pump_frames
    from .test_pgoutput import relation_msg

    wal_dir = str(tmp_path / "wal")
    import os as _os

    _os.makedirs(wal_dir)
    cols = (("id", 20, True), ("nums", 1007, False))  # int8 + _int4
    ins = (
        b"I" + struct.pack(">I", 16384) + b"N"
        + struct.pack(">H", 2)
        + b"t" + struct.pack(">i", 1) + b"7"
        + b"t" + struct.pack(">i", 10) + b"{1,2,NULL}"
    )
    frames = [
        XLogData(5, 5, 0, relation_msg(cols=cols)),
        XLogData(9, 9, 0, b"B" + struct.pack(">QqI", 12, 0, 42)),
        XLogData(10, 10, 0, ins),
        XLogData(12, 12, 0, b"C" + struct.pack(">bQQq", 0, 12, 13, 0)),
    ]
    pump_frames(frames, wal_dir)
    (_s, _e, path), = lsn_stream.list_segments(wal_dir)
    (row,) = pq.read_table(path).to_pylist()
    after = dict(row["after"])
    assert after["nums"] == '["1", "2", null]'  # JSON, not PG '{1,2,NULL}'


def _txn_frames(begin_lsn: int, rows, commit_ts_us: int = 0) -> list:
    """XLogData frames of one transaction inserting `rows` ((id, val)
    text pairs); its COMMIT ends at begin_lsn + len(rows) + 2."""
    from go_pq_cdc_spark.sources.pgoutput import XLogData

    end = begin_lsn + len(rows) + 1
    return [
        XLogData(begin_lsn, begin_lsn, 0,
                 b"B" + struct.pack(">QqI", end, commit_ts_us, begin_lsn)),
        *(XLogData(begin_lsn + 1 + i, begin_lsn + 1 + i, 0, insert_msg(vals=r))
          for i, r in enumerate(rows)),
        XLogData(end, end, 0,
                 b"C" + struct.pack(">bQQq", 0, end, end + 1, commit_ts_us)),
    ]


def test_pump_cuts_a_lone_commit_on_the_idle_tick(tmp_path):
    """One commit, then silence: `frames()` yields an idle tick once the
    socket has been quiet for SEGMENT_AGE_S, and the pump cuts the
    pending commit's segment and acks it, though `batch_rows` is far from
    reached."""
    import os
    import time

    from go_pq_cdc_spark.sources import lsn_stream
    from go_pq_cdc_spark.sources.pgoutput import XLogData
    from go_pq_cdc_spark.sources.slot_keeper import SEGMENT_AGE_S, pump_frames

    def wire(f: XLogData) -> bytes:
        return _msg(b"d", b"w" + struct.pack(">QQq", f.wal_start, f.wal_end, 0) + f.payload)

    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir)
    ours, server = socket.socketpair()
    conn = ReplicationConnection(ours)
    errors = []

    def run():
        try:
            pump_frames(conn.frames(), wal_dir, conn.send_standby_status, batch_rows=1000)
        except ReplicationError:
            pass  # the server side hangs up at the end
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    frames = [XLogData(5, 5, 0, relation_msg()), *_txn_frames(9, [("1", "1.0")])]
    sent = time.monotonic()
    server.sendall(b"".join(wire(f) for f in frames))
    server.settimeout(10)
    buf = b""
    while len(buf) < 5 or len(buf) < 1 + struct.unpack_from(">i", buf, 1)[0]:
        buf += server.recv(4096)
    acked_after = time.monotonic() - sent
    try:
        assert buf[:1] == b"d" and buf[5:6] == b"r"
        assert struct.unpack_from(">Q", buf, 6)[0] == 13  # commit end 12, + 1
        assert [(s, e) for s, e, _ in lsn_stream.list_segments(wal_dir)] == [(1, 12)]
        assert SEGMENT_AGE_S <= acked_after < SEGMENT_AGE_S + 2.0
    finally:
        server.close()
        t.join(timeout=5)
        conn.close()
    assert not errors, errors


def test_pump_cuts_a_received_burst_by_rows(tmp_path, monkeypatch):
    """1,000 one-row commits received at once, each committed long ago
    (commit_ts at the PostgreSQL epoch): the age bound runs from local
    receipt, not from commit_ts, so the pump cuts by rows alone — one
    segment of 1,000 rows, not one per transaction."""
    import os
    import time

    from go_pq_cdc_spark.sources import lsn_stream
    from go_pq_cdc_spark.sources.pgoutput import XLogData
    from go_pq_cdc_spark.sources.slot_keeper import pump_frames

    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir)
    frames = [XLogData(5, 5, 0, relation_msg())]
    for i in range(1001):
        frames += _txn_frames(10 + 4 * i, [(str(i), "1.0")])
    # every frame arrives at one instant
    monkeypatch.setattr(time, "monotonic", lambda: 1000.0)
    pump_frames(frames, wal_dir, batch_rows=1000)
    segs = lsn_stream.list_segments(wal_dir)
    import pyarrow.parquet as pq

    assert [pq.ParquetFile(p).metadata.num_rows for _s, _e, p in segs] == [1000, 1]


def test_segment_is_durable_before_its_ack(tmp_path, monkeypatch):
    """A segment's bytes and its directory entry reach the disk before
    the pump acks its end LSN (the server may then drop that WAL):
    fsync(file) < rename < fsync(dir) < standby status."""
    import os
    import stat

    from go_pq_cdc_spark.sources.pgoutput import XLogData
    from go_pq_cdc_spark.sources.slot_keeper import pump_frames

    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir)
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        kind = "dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "file"
        events.append(f"fsync({kind})")
        real_fsync(fd)

    def replace(src, dst):
        events.append("replace")
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    frames = [XLogData(5, 5, 0, relation_msg()), *_txn_frames(9, [("1", "1.0")])]
    pump_frames(frames, wal_dir, send_status=lambda *_a: events.append("ack"),
                batch_rows=1, record_schema=False)
    # the segment's flush, then the shutdown ack
    assert events == ["fsync(file)", "replace", "fsync(dir)", "ack", "ack"]


def test_frames_on_a_closed_connection_raise():
    """A connection closed by another thread ends `frames()` with a
    ReplicationError before it waits on the socket."""
    ours, server = socket.socketpair()
    conn = ReplicationConnection(ours)
    conn.close()
    server.close()
    with pytest.raises(ReplicationError, match="connection closed"):
        next(conn.frames())
