"""O2-O4 — replication frame demux + binary pgoutput decode.

The reference's replication client splits the COPY-BOTH byte stream into
XLogData / PrimaryKeepalive frames (`pq/replication/stream.go:302-348`)
and decodes pgoutput logical messages into typed change events
(`pq/message/message.go:10-73`, tuple decode `pq/message/tuple/data.go:
40-95`). This module implements the same two layers from the PUBLIC
PostgreSQL protocol documentation ("Logical Streaming Replication
Protocol" / "Logical Replication Message Formats"):

  frame layer   : parse_copy_data(bytes)  -> XLogData | PrimaryKeepalive
  message layer : PgOutputDecoder.decode(payload) -> Begin/Commit/Relation/
                  Insert/Update/Delete/Truncate/Stream* dataclasses, with a
                  relation registry resolving column names and a tuple
                  decoder that distinguishes NULL from unchanged-TOAST

The decoder is driver/keeper-side transport code (pure Python over bytes,
like the Go original); bulk decode in the engine's hot path stays JVM-side
(wal2json `from_json`). A future START_REPLICATION socket client plugs its
frames straight into this module; everything downstream (envelope, merge,
mirror) is already transport-agnostic.

`UNCHANGED_TOAST` sentinel maps to the envelope's NULL-means-unchanged
convention consumed by `operators.cdc.toast_fill` (tuple tag 'u',
tuple/data.go:10-15).
"""

from __future__ import annotations

import json
import logging
import struct
from dataclasses import dataclass, field

_log = logging.getLogger(__name__)

# Microseconds between PostgreSQL epoch (2000-01-01) and Unix epoch.
PG_EPOCH_OFFSET_US = 946_684_800_000_000

# Stable pg_type catalog OIDs (public PostgreSQL catalog; the reference
# resolves the same OIDs through pgtype's registry so numeric/array/json
# columns arrive typed, `pq/message/tuple/data.go:97-102`). `_x` names are
# the catalog's array-type spelling that `envelope.pg_type_to_spark`
# already maps to ArrayType.
PG_OID_TO_NAME: dict[int, str] = {
    16: "bool",
    17: "bytea",
    18: "char",
    19: "name",
    20: "int8",
    21: "int2",
    23: "int4",
    25: "text",
    26: "oid",
    114: "json",
    142: "xml",
    700: "float4",
    701: "float8",
    790: "money",
    1042: "bpchar",
    1043: "varchar",
    1082: "date",
    1083: "time",
    1114: "timestamp",
    1184: "timestamptz",
    1186: "interval",
    1700: "numeric",
    2950: "uuid",
    3802: "jsonb",
    # array types
    199: "_json",
    1000: "_bool",
    1001: "_bytea",
    1005: "_int2",
    1007: "_int4",
    1009: "_text",
    1014: "_bpchar",
    1015: "_varchar",
    1016: "_int8",
    1021: "_float4",
    1022: "_float8",
    1115: "_timestamp",
    1182: "_date",
    1183: "_time",
    1185: "_timestamptz",
    1231: "_numeric",
    2951: "_uuid",
    3807: "_jsonb",
}

ARRAY_OIDS = frozenset(oid for oid, name in PG_OID_TO_NAME.items() if name.startswith("_"))


def pg_type_name(oid: int) -> str:
    """OID -> catalog type name; unknown OIDs degrade to text, mirroring the
    reference's decode fallback (`pq/message/tuple/data.go:100-101`)."""
    return PG_OID_TO_NAME.get(oid, "text")


def pg_array_text_to_json(text: str) -> str:
    """PostgreSQL text-format array literal -> JSON text.

    '{1,2,3}' -> '["1", "2", "3"]';  '{"a b",NULL}' -> '["a b", null]';
    nested '{{1},{2}}' -> '[["1"], ["2"]]'. Elements stay STRINGS (JSON
    strings) — element typing happens in `envelope.typed_projection` via
    from_json + elementwise cast, so one canonical transport encoding
    serves every element type. Handles double-quote escaping (\\" and \\\\),
    unquoted NULL, empty arrays, and the dimension prefix ('[1:3]={...}').
    This is the socket-path analogue of pgtype's array decode
    (`pq/message/tuple/data.go:97-102`); the wal2json path already delivers
    JSON arrays, so the two transports converge on the same envelope text.
    """
    s = text.strip()
    if s.startswith("["):  # explicit dimension bounds prefix
        eq = s.find("=")
        if eq == -1:
            raise ValueError(f"malformed PG array literal: {text!r}")
        s = s[eq + 1 :]
    if not s.startswith("{"):
        raise ValueError(f"not a PG array literal: {text!r}")

    def parse(i: int) -> tuple[list, int]:
        i += 1  # past '{'
        out: list = []
        if i < len(s) and s[i] == "}":
            return out, i + 1
        while i < len(s):
            ch = s[i]
            if ch == "{":
                sub, i = parse(i)
                out.append(sub)
            elif ch == '"':
                i += 1
                buf = []
                while i < len(s) and s[i] != '"':
                    if s[i] == "\\":
                        i += 1
                    buf.append(s[i])
                    i += 1
                if i >= len(s):
                    raise ValueError(f"unterminated quote in PG array: {text!r}")
                i += 1
                out.append("".join(buf))
            else:
                j = i
                while j < len(s) and s[j] not in ",}":
                    j += 1
                tok = s[i:j]
                out.append(None if tok.upper() == "NULL" else tok)
                i = j
            if i < len(s) and s[i] == ",":
                i += 1
                continue
            if i < len(s) and s[i] == "}":
                return out, i + 1
            break
        raise ValueError(f"malformed PG array literal: {text!r}")

    out, end = parse(0)
    if s[end:].strip():
        raise ValueError(f"trailing garbage in PG array literal: {text!r}")
    return json.dumps(out)


class UnchangedToast:
    """Singleton marker: column present but not re-sent (TOAST 'u' tag)."""

    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __repr__(self) -> str:
        return "<unchanged-toast>"


UNCHANGED_TOAST = UnchangedToast()


# -- O2: COPY-BOTH frame demux ----------------------------------------------


@dataclass
class XLogData:
    wal_start: int
    wal_end: int
    server_clock_us: int  # since PG epoch
    payload: bytes


@dataclass
class PrimaryKeepalive:
    wal_end: int
    server_clock_us: int
    reply_requested: bool


class Idle:
    """Not a wire frame: what `ReplicationConnection.frames()` yields when
    no message arrived within `slot_keeper.SEGMENT_AGE_S`, so the pump can
    cut a segment on a quiet stream. It carries no payload."""


IDLE = Idle()


def parse_copy_data(frame: bytes) -> XLogData | PrimaryKeepalive:
    """One CopyData payload -> XLogData ('w') or keepalive ('k')
    (stream.go:302-348 demux; format from the PG docs §55.4)."""
    tag = frame[0:1]
    try:
        if tag == b"w":
            wal_start, wal_end, clock = struct.unpack_from(">QQq", frame, 1)
            return XLogData(wal_start, wal_end, clock, frame[25:])
        if tag == b"k":
            wal_end, clock, reply = struct.unpack_from(">Qqb", frame, 1)
            return PrimaryKeepalive(wal_end, clock, bool(reply))
    except struct.error as e:  # truncated frame — same contract as decode()
        raise ValueError(f"truncated replication frame: {e}") from e
    raise ValueError(f"unknown replication frame tag {tag!r}")


def standby_status_update(
    received_lsn: int, flushed_lsn: int, applied_lsn: int, clock_us: int, reply: bool = False
) -> bytes:
    """The 'r' frame the client sends to ack (stream.go:718-733 writes the
    same triple; +1 per the protocol's next-expected-byte convention is the
    caller's choice)."""
    return b"r" + struct.pack(
        ">QQQqb", received_lsn, flushed_lsn, applied_lsn, clock_us, 1 if reply else 0
    )


# -- O4: pgoutput logical message decode ------------------------------------


@dataclass
class Begin:
    final_lsn: int
    commit_ts_us: int  # unix micros
    xid: int


@dataclass
class Commit:
    commit_lsn: int
    end_lsn: int
    commit_ts_us: int


@dataclass
class Column:
    name: str
    type_oid: int
    type_mod: int
    is_key: bool


@dataclass
class Relation:
    oid: int
    namespace: str
    name: str
    replica_identity: str  # 'd'/'n'/'f'/'i'
    columns: list[Column]


@dataclass
class Insert:
    relation_oid: int
    new: dict[str, object]
    xid: int | None = None  # set for streamed-txn messages


@dataclass
class Update:
    relation_oid: int
    old: dict[str, object] | None  # replica identity K/O image, if sent
    new: dict[str, object]
    xid: int | None = None


@dataclass
class Delete:
    relation_oid: int
    old: dict[str, object]
    xid: int | None = None


@dataclass
class Truncate:
    relation_oids: list[int]
    cascade: bool
    restart_identity: bool
    xid: int | None = None


@dataclass
class StreamStart:
    xid: int
    first_segment: bool


@dataclass
class StreamStop:
    pass


@dataclass
class StreamCommit:
    xid: int
    commit_lsn: int
    end_lsn: int
    commit_ts_us: int


@dataclass
class StreamAbort:
    xid: int
    subxid: int


def _cstring(buf: bytes, pos: int) -> tuple[str, int]:
    end = buf.index(b"\x00", pos)
    return buf[pos:end].decode(), end + 1


def _pg_ts_to_unix_us(pg_us: int) -> int:
    return pg_us + PG_EPOCH_OFFSET_US


@dataclass
class PgOutputDecoder:
    """Stateful decoder: Relation messages register column metadata that
    later DML messages resolve (message.go keeps the same oid->relation
    map). Streamed-txn ('S'...'c'/'A') payloads carry the xid inline; the
    decoder stamps it on each DML so the txn buffer can route by xid (O8)."""

    protocol_version: int = 2
    relations: dict[int, Relation] = field(default_factory=dict)
    _stream_xid: int | None = None

    # tuple decode (tuple/data.go:40-95): n=NULL, u=unchanged TOAST,
    # t=text value (len+bytes); binary ('b') appears only when the
    # subscription requests binary mode — decoded as raw bytes.
    def _tuple(self, buf: bytes, pos: int) -> tuple[list[object], int]:
        (ncols,) = struct.unpack_from(">H", buf, pos)
        pos += 2
        vals: list[object] = []
        for _ in range(ncols):
            kind = buf[pos : pos + 1]
            pos += 1
            if kind == b"n":
                vals.append(None)
            elif kind == b"u":
                vals.append(UNCHANGED_TOAST)
            elif kind in (b"t", b"b"):
                (ln,) = struct.unpack_from(">i", buf, pos)
                pos += 4
                if ln < 0 or pos + ln > len(buf):
                    raise ValueError(f"tuple value length {ln} overruns buffer")
                raw = buf[pos : pos + ln]
                pos += ln
                vals.append(raw.decode() if kind == b"t" else raw)
            else:
                raise ValueError(f"unknown tuple column tag {kind!r}")
        return vals, pos

    def _named(self, oid: int, vals: list[object]) -> dict[str, object]:
        rel = self.relations.get(oid)
        if rel is None:
            raise ValueError(f"DML for unregistered relation oid {oid}")
        if len(vals) != len(rel.columns):
            raise ValueError(
                f"{rel.namespace}.{rel.name}: {len(vals)} values for "
                f"{len(rel.columns)} columns"
            )
        return {c.name: v for c, v in zip(rel.columns, vals)}

    def decode(self, payload: bytes):
        """One pgoutput message (an XLogData payload) -> typed event.

        Error contract: anything malformed — truncated frames, bad
        lengths, invalid UTF-8 in a text tuple — raises ValueError, never
        struct.error / UnicodeDecodeError, so callers (the resilient
        replication loop's transient classification) see ONE exception
        family for wire garbage (fuzz-pinned in tests/test_properties.py)."""
        try:
            return self._decode(payload)
        except (struct.error, UnicodeDecodeError, IndexError) as e:
            # IndexError: truncated frames hit single-byte reads
            # (payload[pos]) as well as struct.unpack_from
            raise ValueError(f"malformed pgoutput message: {e}") from e

    def _decode(self, payload: bytes):
        tag = payload[0:1]
        pos = 1
        xid = self._stream_xid
        # Protocol >= 2: messages INSIDE a stream (between 'S' and 'E')
        # carry an inline Int32 xid after the tag (PG docs: "only present
        # for streamed transactions").
        if xid is not None and tag in (b"I", b"U", b"D", b"R", b"T", b"Y"):
            (xid,) = struct.unpack_from(">I", payload, pos)
            pos += 4
        if tag == b"B":
            final_lsn, ts, bxid = struct.unpack_from(">QqI", payload, pos)
            return Begin(final_lsn, _pg_ts_to_unix_us(ts), bxid)
        if tag == b"C":
            _flags, commit_lsn, end_lsn, ts = struct.unpack_from(">bQQq", payload, pos)
            return Commit(commit_lsn, end_lsn, _pg_ts_to_unix_us(ts))
        if tag == b"R":
            (oid,) = struct.unpack_from(">I", payload, pos)
            pos += 4
            ns, pos = _cstring(payload, pos)
            name, pos = _cstring(payload, pos)
            replident = payload[pos : pos + 1].decode()
            pos += 1
            (ncols,) = struct.unpack_from(">H", payload, pos)
            pos += 2
            cols = []
            for _ in range(ncols):
                flags = payload[pos]
                pos += 1
                cname, pos = _cstring(payload, pos)
                toid, tmod = struct.unpack_from(">Ii", payload, pos)
                pos += 8
                cols.append(Column(cname, toid, tmod, bool(flags & 1)))
            rel = Relation(oid, ns or "public", name, replident, cols)
            self.relations[oid] = rel
            return rel
        if tag == b"I":
            (oid,) = struct.unpack_from(">I", payload, pos)
            pos += 4
            marker = payload[pos : pos + 1]
            pos += 1
            if marker != b"N":
                raise ValueError(f"Insert expects 'N' tuple, got {marker!r}")
            vals, pos = self._tuple(payload, pos)
            return Insert(oid, self._named(oid, vals), xid=xid)
        if tag == b"U":
            (oid,) = struct.unpack_from(">I", payload, pos)
            pos += 4
            old = None
            marker = payload[pos : pos + 1]
            pos += 1
            if marker in (b"K", b"O"):
                vals, pos = self._tuple(payload, pos)
                old = self._named(oid, vals)
                marker = payload[pos : pos + 1]
                pos += 1
            if marker != b"N":
                raise ValueError(f"Update expects 'N' tuple, got {marker!r}")
            vals, pos = self._tuple(payload, pos)
            return Update(oid, old, self._named(oid, vals), xid=xid)
        if tag == b"D":
            (oid,) = struct.unpack_from(">I", payload, pos)
            pos += 4
            marker = payload[pos : pos + 1]
            pos += 1
            if marker not in (b"K", b"O"):
                raise ValueError(f"Delete expects 'K'/'O' tuple, got {marker!r}")
            vals, pos = self._tuple(payload, pos)
            return Delete(oid, self._named(oid, vals), xid=xid)
        if tag == b"T":
            nrels, flags = struct.unpack_from(">Ib", payload, pos)
            pos += 5
            oids = list(struct.unpack_from(f">{nrels}I", payload, pos))
            return Truncate(oids, bool(flags & 1), bool(flags & 2), xid=xid)
        # streamed large transactions (protocol v2, O8 / stream.go:217-278)
        if tag == b"S":
            sxid, first = struct.unpack_from(">Ib", payload, pos)
            self._stream_xid = sxid
            return StreamStart(sxid, bool(first))
        if tag == b"E":
            self._stream_xid = None
            return StreamStop()
        if tag == b"c":
            sxid, _flags, commit_lsn, end_lsn, ts = struct.unpack_from(
                ">IbQQq", payload, pos
            )
            self._stream_xid = None
            return StreamCommit(sxid, commit_lsn, end_lsn, _pg_ts_to_unix_us(ts))
        if tag == b"A":
            sxid, subxid = struct.unpack_from(">II", payload, pos)
            self._stream_xid = None
            return StreamAbort(sxid, subxid)
        if tag in (b"O", b"Y", b"M"):
            # Origin / Type / logical-decoding Message: valid protocol bytes
            # the engine does not consume. The reference logs-and-skips any
            # byte outside its switch (`pq/message/message.go:70-72`,
            # `replication/stream.go:414-418` debug-log + return) — a live
            # stream with a replication origin or a custom column type must
            # keep flowing, not die. Returning None skips the frame.
            _log.debug("skipping pgoutput message %r (not consumed)", tag)
            return None
        raise ValueError(f"unknown pgoutput message tag {tag!r}")


# -- bridge to the change envelope ------------------------------------------

_OPS = {Insert: "I", Update: "U", Delete: "D"}


def frames_to_committed_txns(frames, on_relation=None):
    """XLogData frames -> (commit_end_lsn, rows) per COMMITTED
    transaction, in commit order — THE single socket-transport decode
    path (the pump builds envelope segments from it; `frames_to_envelope`
    flattens it).

    Per-row contract, identical to what `wal2json.decode_wal2json`
    produces JVM-side plus the commit rewrite:
      {op, lsn, txn_seq, xid, commit_ts_us, schema, table, before, after}
    where `lsn` is the transaction's COMMIT end LSN (the reference
    rewrites delivered positions to TransactionEndLSN — stream.go:193-203
    regular, :257-267 streamed) and `txn_seq` the 1-based position within
    the transaction, so (lsn, txn_seq) totally orders events even from
    unordered distributed storage.

    Buffering is per top-level xid, so an uncommitted tail (stream cut
    mid-transaction) is never emitted, and protocol-v2 STREAMED
    transactions work: blocks of different top-level xids interleave
    between StreamStart/StreamStop, DML messages carry their
    (sub)transaction's xid, StreamAbort drops exactly the aborted
    subtransaction's rows (whole buffer when subxid == toplevel), and
    StreamCommit releases the survivors with the commit timestamp only
    IT carries. Memory holds one in-flight transaction set — the same
    bound as the reference's in-process buffer.

    UNCHANGED_TOAST collapses to the envelope's NULL-means-unchanged
    convention (repaired downstream by `operators.cdc.toast_fill`);
    array-typed columns (Relation OID in ARRAY_OIDS) are re-encoded from
    PG text-array format to JSON text so the envelope carries the SAME
    encoding the wal2json path does — `envelope.typed_projection` turns
    either into a typed array column (pgtype-parity,
    `pq/message/tuple/data.go:97-102`). Keepalive frames and idle ticks
    are skipped — the caller answers keepalives with
    `standby_status_update`.

    `on_relation(rel)`, when given, fires for every decoded Relation
    message (initial AND re-sends after DDL — relation.go:11-19): the
    hook the pump uses to persist the live column list so downstream
    typed consumers can evolve their schema mid-stream."""
    dec = PgOutputDecoder()
    cur_xid = None  # non-streamed: Begin..Commit never interleaves
    cur_commit_ts_us = None
    stream_top = None  # inside a StreamStart..StreamStop block
    bufs: dict[int, list] = {}  # toplevel xid -> [(subxid, row), ...]

    def stamp(buffered, end_lsn, commit_ts_us):
        rows = []
        for i, (_sx, r) in enumerate(buffered):
            r["lsn"] = end_lsn
            r["txn_seq"] = i + 1
            if commit_ts_us is not None:
                r["commit_ts_us"] = commit_ts_us
            rows.append(r)
        return rows

    for frame in frames:
        if isinstance(frame, (PrimaryKeepalive, Idle)):
            continue
        msg = dec.decode(frame.payload)
        if isinstance(msg, Begin):
            cur_xid, cur_commit_ts_us = msg.xid, msg.commit_ts_us
            bufs.setdefault(cur_xid, [])
            continue
        if isinstance(msg, Commit):
            rows = stamp(bufs.pop(cur_xid, []), msg.end_lsn, None)
            cur_xid, cur_commit_ts_us = None, None
            yield msg.end_lsn, rows
            continue
        if isinstance(msg, StreamStart):
            stream_top = msg.xid
            bufs.setdefault(stream_top, [])
            continue
        if isinstance(msg, StreamStop):
            stream_top = None
            continue
        if isinstance(msg, StreamCommit):
            yield msg.end_lsn, stamp(
                bufs.pop(msg.xid, []), msg.end_lsn, msg.commit_ts_us
            )
            continue
        if isinstance(msg, StreamAbort):
            if msg.subxid == msg.xid:
                bufs.pop(msg.xid, None)
            elif msg.xid in bufs:
                bufs[msg.xid] = [
                    (sx, r) for sx, r in bufs[msg.xid] if sx != msg.subxid
                ]
            continue
        if isinstance(msg, Relation):
            if on_relation is not None:
                on_relation(msg)
            continue
        toplevel = stream_top if stream_top is not None else cur_xid
        msg_xid = getattr(msg, "xid", None)  # Relation carries no xid
        subxid = msg_xid if msg_xid is not None else toplevel
        if isinstance(msg, Truncate):
            # one 'T' row per truncated relation — wal2json-path parity
            # (decode_wal2json keeps action 'T'; dropping it here would
            # leave downstream mirrors silently stale after a TRUNCATE)
            for oid in msg.relation_oids:
                rel = dec.relations[oid]
                bufs.setdefault(toplevel, []).append(
                    (
                        subxid,
                        {
                            "op": "T",
                            "lsn": frame.wal_start,
                            "xid": subxid,
                            "commit_ts_us": (
                                cur_commit_ts_us if stream_top is None else None
                            ),
                            "schema": rel.namespace,
                            "table": rel.name,
                            "before": None,
                            "after": None,
                        },
                    )
                )
            continue
        op = _OPS.get(type(msg))
        if op is None:
            continue  # Relation messages are control flow here
        rel = dec.relations[msg.relation_oid]
        array_cols = {c.name for c in rel.columns if c.type_oid in ARRAY_OIDS}

        def clean(img):
            if img is None:
                return None
            out = {}
            for k, v in img.items():
                if v is UNCHANGED_TOAST:
                    out[k] = None
                elif k in array_cols and isinstance(v, str):
                    out[k] = pg_array_text_to_json(v)
                else:
                    out[k] = v
            return out

        row = {
            "op": op,
            "lsn": frame.wal_start,  # rewritten to commit end at commit
            "xid": subxid,
            "commit_ts_us": cur_commit_ts_us if stream_top is None else None,
            "schema": rel.namespace,
            "table": rel.name,
            "before": clean(getattr(msg, "old", None)),
            "after": clean(getattr(msg, "new", None)),
        }
        bufs.setdefault(toplevel, []).append((subxid, row))


def frames_to_envelope(frames):
    """Flattened `frames_to_committed_txns`: envelope rows of committed
    transactions in commit order, each carrying the commit-rewritten
    (lsn, txn_seq) — see that function for the full contract."""
    for _end_lsn, rows in frames_to_committed_txns(frames):
        yield from rows
