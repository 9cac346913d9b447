"""O1 — the START_REPLICATION socket client.

The reference dials PostgreSQL with `replication=database`, authenticates,
issues START_REPLICATION on the slot and consumes the COPY-BOTH stream
(`pq/replication/stream.go:121-143` connect/start, `:302-348` read loop,
`:718-733` status flush). This module implements that client over stdlib
sockets from the PUBLIC PostgreSQL frontend/backend protocol docs (§55) —
no driver library needed:

    conn = ReplicationConnection.connect(host, port, user, db, password)
    conn.start_replication("cdc_slot", start_lsn, ["pub"])
    for frame in conn.frames():          # XLogData | PrimaryKeepalive | IDLE
        ...                               # decode via sources.pgoutput
        conn.send_standby_status(received, flushed, applied)

Auth: trust, cleartext, md5, and SCRAM-SHA-256 (RFC 5802/7677, via
hashlib/hmac). Frames hand straight to `pgoutput.parse_copy_data` /
`PgOutputDecoder`; acks reuse `pgoutput.standby_status_update`. The test
suite drives the full dialogue against an in-process fake server socket —
the container has no PostgreSQL, so the wire grammar is what's verified.
"""

from __future__ import annotations

import hashlib
import hmac
import os
import select
import socket
import struct
from base64 import b64decode, b64encode
from dataclasses import dataclass, field

from .pgoutput import (
    IDLE,
    PrimaryKeepalive,
    XLogData,
    parse_copy_data,
    standby_status_update,
)
from .slot_keeper import SEGMENT_AGE_S, int_to_lsn

PROTOCOL_VERSION = 196608  # 3.0


class ReplicationError(RuntimeError):
    pass


def _scram_sha256(password: str, server_first: str, client_first_bare: str, nonce: str):
    """RFC 5802 client-final proof + expected server signature."""
    parts = dict(p.split("=", 1) for p in server_first.split(","))
    r, salt_b64, iters = parts["r"], parts["s"], int(parts["i"])
    if not r.startswith(nonce):
        raise ReplicationError("SCRAM server nonce does not extend client nonce")
    salted = hashlib.pbkdf2_hmac("sha256", password.encode(), b64decode(salt_b64), iters)
    client_key = hmac.digest(salted, b"Client Key", "sha256")
    stored_key = hashlib.sha256(client_key).digest()
    client_final_bare = f"c=biws,r={r}"
    auth_message = f"{client_first_bare},{server_first},{client_final_bare}".encode()
    client_sig = hmac.digest(stored_key, auth_message, "sha256")
    proof = bytes(a ^ b for a, b in zip(client_key, client_sig))
    server_key = hmac.digest(salted, b"Server Key", "sha256")
    server_sig = hmac.digest(server_key, auth_message, "sha256")
    client_final = client_final_bare + ",p=" + b64encode(proof).decode()
    return client_final, server_sig


@dataclass
class ReplicationConnection:
    sock: socket.socket
    parameters: dict[str, str] = field(default_factory=dict)
    _buf: bytes = b""

    # -- wire primitives ----------------------------------------------------

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ReplicationError("server closed the connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_message(self) -> tuple[bytes, bytes]:
        tag = self._recv_exact(1)
        (ln,) = struct.unpack(">i", self._recv_exact(4))
        return tag, self._recv_exact(ln - 4)

    def _send(self, tag: bytes, body: bytes) -> None:
        self.sock.sendall(tag + struct.pack(">i", len(body) + 4) + body)

    # -- session setup ------------------------------------------------------

    @classmethod
    def connect(
        cls,
        host: str,
        port: int,
        user: str,
        database: str,
        password: str | None = None,
        timeout_s: float | None = 10.0,
        replication: bool = True,
        options: str | None = None,
    ) -> "ReplicationConnection":
        """`replication=True` opens a logical-replication session
        (START_REPLICATION capable); `replication=False` opens a plain SQL
        session over the same wire machinery — used by the live-server
        integration harness to drive DDL/DML without any driver
        dependency. `options` passes command-line GUCs to the backend
        (e.g. '-c logical_decoding_work_mem=64kB' to force protocol-v2
        streaming of large transactions on the walsender)."""
        sock = socket.create_connection((host, port), timeout=timeout_s)
        conn = cls(sock)
        params = f"user\x00{user}\x00database\x00{database}\x00"
        if replication:
            params += "replication\x00database\x00"
        if options:
            params += f"options\x00{options}\x00"
        params += "\x00"
        body = struct.pack(">i", PROTOCOL_VERSION) + params.encode()
        sock.sendall(struct.pack(">i", len(body) + 4) + body)
        conn._authenticate(user, password)
        return conn

    def _authenticate(self, user: str, password: str | None) -> None:
        nonce = b64encode(os.urandom(18)).decode()
        client_first_bare = f"n={user},r={nonce}"
        expected_server_sig: bytes | None = None
        while True:
            tag, body = self._read_message()
            if tag == b"E":
                raise ReplicationError(f"server error during auth: {body!r}")
            if tag == b"R":
                (code,) = struct.unpack_from(">i", body)
                if code == 0:  # AuthenticationOk
                    continue
                if code == 3:  # CleartextPassword
                    self._send(b"p", (password or "").encode() + b"\x00")
                elif code == 5:  # MD5Password
                    salt = body[4:8]
                    inner = hashlib.md5(((password or "") + user).encode()).hexdigest()
                    outer = hashlib.md5(inner.encode() + salt).hexdigest()
                    self._send(b"p", b"md5" + outer.encode() + b"\x00")
                elif code == 10:  # SASL: pick SCRAM-SHA-256
                    mechs = body[4:].split(b"\x00")
                    if b"SCRAM-SHA-256" not in mechs:
                        raise ReplicationError(f"no supported SASL mechanism in {mechs}")
                    initial = ("n,," + client_first_bare).encode()
                    self._send(
                        b"p",
                        b"SCRAM-SHA-256\x00" + struct.pack(">i", len(initial)) + initial,
                    )
                elif code == 11:  # SASLContinue: server-first-message
                    server_first = body[4:].decode()
                    client_final, expected_server_sig = _scram_sha256(
                        password or "", server_first, client_first_bare, nonce
                    )
                    self._send(b"p", client_final.encode())
                elif code == 12:  # SASLFinal: verify server signature
                    parts = dict(p.split("=", 1) for p in body[4:].decode().split(","))
                    if expected_server_sig is None or b64decode(parts["v"]) != expected_server_sig:
                        raise ReplicationError("SCRAM server signature mismatch")
                else:
                    raise ReplicationError(f"unsupported auth request code {code}")
            elif tag == b"S":
                # ParameterStatus is name\0value\0 where value may be EMPTY
                # (live servers send application_name='' by default) — so
                # partition on the first NUL, never rstrip-then-split.
                k, _, v = body.partition(b"\x00")
                self.parameters[k.decode()] = v.rstrip(b"\x00").decode()
            elif tag == b"K":
                pass  # BackendKeyData — cancellation not used
            elif tag == b"Z":
                return  # ReadyForQuery
            else:
                raise ReplicationError(f"unexpected message {tag!r} during startup")

    # -- simple query protocol ----------------------------------------------

    def simple_query(self, sql: str) -> list[tuple]:
        """Run one statement via the simple-query protocol ('Q' message,
        PG docs §55.2.2) and return DataRows as tuples of str|None (text
        format — callers cast). Replication sessions accept this for the
        walsender grammar (IDENTIFY_SYSTEM, CREATE_REPLICATION_SLOT…);
        non-replication sessions (`connect(replication=False)`) accept
        arbitrary SQL — the integration harness's driver-free SQL path."""
        self._send(b"Q", sql.encode() + b"\x00")
        rows: list[tuple] = []
        error: bytes | None = None
        while True:
            tag, body = self._read_message()
            if tag == b"D":
                (ncols,) = struct.unpack_from(">H", body)
                pos, vals = 2, []
                for _ in range(ncols):
                    (ln,) = struct.unpack_from(">i", body, pos)
                    pos += 4
                    if ln < 0:
                        vals.append(None)
                    else:
                        vals.append(body[pos : pos + ln].decode())
                        pos += ln
                rows.append(tuple(vals))
            elif tag == b"E":
                error = body
            elif tag == b"Z":  # ReadyForQuery — statement finished
                if error is not None:
                    raise ReplicationError(f"query failed: {error!r} ({sql[:120]})")
                return rows
            # ignore T (RowDescription), C (CommandComplete), N (Notice),
            # S (ParameterStatus), I (EmptyQueryResponse)

    # -- replication --------------------------------------------------------

    def start_replication(
        self,
        slot: str,
        start_lsn: int,
        publications: list[str],
        proto_version: int = 2,
    ) -> None:
        """Issue START_REPLICATION ... LOGICAL and enter COPY-BOTH mode
        (stream.go:121-143; options per the pgoutput docs)."""
        opts = [f"proto_version '{proto_version}'"]
        if publications:
            opts.append("publication_names '" + ",".join(publications) + "'")
        if proto_version >= 2:
            opts.append("streaming 'true'")
        sql = (
            f"START_REPLICATION SLOT {slot} LOGICAL {int_to_lsn(start_lsn)} "
            f"({', '.join(opts)})"
        )
        self._send(b"Q", sql.encode() + b"\x00")
        while True:
            tag, body = self._read_message()
            if tag == b"W":
                return  # CopyBothResponse — streaming begins
            if tag == b"E":
                raise ReplicationError(f"START_REPLICATION failed: {body!r}")
            if tag in (b"S", b"C", b"Z"):
                continue
            raise ReplicationError(f"unexpected message {tag!r} before CopyBoth")

    def frames(self):
        """Yield XLogData / PrimaryKeepalive until CopyDone (stream.go
        read loop). Feed payloads to `pgoutput.PgOutputDecoder`. Between
        messages the socket is awaited for at most `SEGMENT_AGE_S`; when
        nothing arrives, `pgoutput.IDLE` is yielded instead, the pump's
        cue to cut a segment on a quiet stream."""
        while True:
            if not self._buf:
                if self.sock.fileno() < 0:  # closed by another thread
                    raise ReplicationError("connection closed")
                # poll, not select: select rejects an fd >= FD_SETSIZE
                waiter = select.poll()
                waiter.register(self.sock, select.POLLIN)
                if not waiter.poll(SEGMENT_AGE_S * 1000):
                    yield IDLE
                    continue
            tag, body = self._read_message()
            if tag == b"d":  # CopyData wraps a replication frame
                msg = parse_copy_data(body)
                if isinstance(msg, (XLogData, PrimaryKeepalive)):
                    yield msg
            elif tag == b"c":  # CopyDone
                return
            elif tag == b"E":
                raise ReplicationError(f"stream error: {body!r}")
            # ignore NoticeResponse ('N') and parameter changes

    def send_standby_status(
        self,
        received_lsn: int,
        flushed_lsn: int,
        applied_lsn: int,
        clock_us: int = 0,
        reply: bool = False,
    ) -> None:
        """Ack via a CopyData-wrapped standby status update ('r' frame,
        stream.go:718-733). Callers pass next-expected LSNs (+1 handled by
        the caller per the protocol convention)."""
        self._send(
            b"d",
            standby_status_update(received_lsn, flushed_lsn, applied_lsn, clock_us, reply),
        )

    def close(self) -> None:
        # shutdown() first: close() alone does NOT wake a recv() blocked in
        # another thread (the pump), and the un-FINed socket leaves the
        # server's walsender holding the replication slot — a live-server
        # finding (pg_drop_replication_slot kept failing with 'slot is
        # active for PID n' long after close).
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        try:
            self.sock.close()
        except OSError:
            pass
