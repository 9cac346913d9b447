"""O1/O19 — a real Structured Streaming source with LSN offsets, built on
the PySpark Python Data Source API (SURVEY.md §2.1 O1: 'custom
DataSourceStreamReader whose offset = LSN').

The reference opens a replication socket and tracks two WAL positions:
last-received and confirmed/acked, flushing standby-status updates so the
slot advances (`pq/replication/stream.go:302-348, 605-633, 718-733`). This
source reproduces that contract on Spark's offset model:

  * WAL transport = a directory of `wal_<startlsn>_<endlsn>.parquet`
    segment files (written by the poll reader or a wal2json shipper; the
    same layout a Kafka topic partition would give us)
  * `latestOffset()`  -> max end-LSN present (last-received position)
  * `partitions(a,b)` -> the segment files in (a, b], packed in LSN order
    into byte-sized input partitions (Spark's file-source rule: up to
    128 MB each, every file counted at its size plus a 4 MB open cost),
    read on executors via Arrow — a batch of many small segments is one
    task, not one task per segment
  * `commit(offset)`  -> persists the confirmed LSN to `<dir>/_confirmed`
    — the standby-status-update analogue; an external slot keeper reads it
    and advances `confirmed_flush_lsn` on the server (at-least-once ack,
    exactly the reference's semantics)

Restart resumes from the checkpointed offset: Spark's offset log plays the
role of the reference's in-memory `confirmedXLogPos` + final flush.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

SEGMENT_RE = re.compile(r"wal_(\d+)_(\d+)\.parquet$")

# Keep in sync with streaming.changelog_stream.FLAT_CHANGE_SCHEMA.
WAL_SCHEMA_DDL = (
    "op string, lsn bigint, xid bigint, commit_ts timestamp, pk bigint, after_val double"
)

# Raw transport segments as written by sources.slot_keeper: undecoded
# wal2json documents; decode happens JVM-side (sources.wal2json).
RAW_WAL_SCHEMA_DDL = "lsn bigint, xid bigint, data string"

# Envelope segments as written by sources.slot_keeper.pump_frames (the
# socket/pgoutput transport decodes driver-side; columns mirror
# wal2json.decode_wal2json output). `lsn` is the transaction's COMMIT
# end LSN (the reference's TransactionEndLSN rewrite) and `txn_seq` the
# 1-based position within the transaction — (lsn, txn_seq) totally
# orders events in commit order. Format v2 (txn_seq added): start new
# wal_dirs fresh; segments are transient transport state, not storage.
ENVELOPE_WAL_SCHEMA_DDL = (
    "op string, lsn bigint, txn_seq bigint, xid bigint, commit_ts timestamp, "
    "schema string, table string, "
    "before map<string,string>, after map<string,string>"
)


def segment_path(dir_path: str, start_lsn: int, end_lsn: int) -> str:
    return os.path.join(dir_path, f"wal_{start_lsn}_{end_lsn}.parquet")


def list_segments(dir_path: str) -> list[tuple[int, int, str]]:
    out = []
    if not os.path.isdir(dir_path):
        return out
    for name in os.listdir(dir_path):
        m = SEGMENT_RE.search(name)
        if m:
            out.append((int(m.group(1)), int(m.group(2)), os.path.join(dir_path, name)))
    out.sort()
    return out


# Spark's file-source packing defaults (spark.sql.files.maxPartitionBytes /
# spark.sql.files.openCostInBytes): a partition closes before the segment
# that would push it past the cap, and every segment costs its size plus
# the open cost, so thousands of tiny segments still spread over tasks.
MAX_PARTITION_BYTES = 128 << 20
OPEN_COST_BYTES = 4 << 20


class WalSegmentPartition(InputPartition):
    """A contiguous LSN run of segments: `segments` is [(start, end, path)]
    in LSN order."""

    def __init__(self, segments: list[tuple[int, int, str]]):
        self.segments = segments


def _pack_segments(
    segs: list[tuple[int, int, str]], sizes: list[int]
) -> list[WalSegmentPartition]:
    """Greedy in-order packing of segments into partitions (the
    `FilePartition.getFilePartitions` rule without its size sort, which
    would break LSN order)."""
    parts: list[WalSegmentPartition] = []
    cur: list[tuple[int, int, str]] = []
    cur_bytes = 0
    for seg, size in zip(segs, sizes):
        if cur and cur_bytes + size > MAX_PARTITION_BYTES:
            parts.append(WalSegmentPartition(cur))
            cur, cur_bytes = [], 0
        cur.append(seg)
        cur_bytes += size + OPEN_COST_BYTES
    if cur:
        parts.append(WalSegmentPartition(cur))
    return parts


class LsnStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("pq_cdc_wal requires option 'path' (WAL segment dir)")
        self.start_lsn = int(options.get("startlsn", -1))

    def initialOffset(self) -> dict:
        # Snapshot→CDC handoff (O28): start from the recorded snapshot LSN.
        return {"lsn": self.start_lsn}

    def _anchor(self, segs) -> int:
        # startlsn = -1 means "wherever the WAL begins": anchor at the lowest
        # segment present. An explicit startlsn is a hard chain origin.
        if self.start_lsn == -1 and segs:
            return segs[0][0] - 1
        return self.start_lsn

    def latestOffset(self) -> dict:
        # Advance only along a CONTIGUOUS segment chain (the reference tracks
        # received WAL positions the same way, stream.go:605-633). A segment
        # landing out of order leaves the offset parked before the gap, so it
        # is still read once the gap fills — never silently skipped.
        segs = list_segments(self.dir)
        cur = self._anchor(segs)
        for s, e, _p in segs:
            if e <= cur:
                continue  # already covered
            if s != cur + 1:
                break  # gap: do not advance past it
            cur = e
        return {"lsn": cur}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start["lsn"], end["lsn"]
        segs = [seg for seg in list_segments(self.dir) if seg[0] > lo and seg[1] <= hi]
        # Defense in depth: the (lo, hi] range must be exactly tiled by the
        # selected segments. A hole here means WAL loss (a segment vanished
        # or offsets were corrupted) — fail the batch loudly rather than
        # deliver a stream with a silent gap.
        cur = lo
        if lo == self.start_lsn == -1 and segs:
            # first-ever batch with no explicit origin: the WAL begins at
            # the lowest segment present (same anchor rule as latestOffset)
            cur = segs[0][0] - 1
        for s, e, _path in segs:
            if s != cur + 1:
                raise ValueError(
                    f"WAL gap in {self.dir}: expected segment starting at "
                    f"{cur + 1}, found {s} (range ({lo}, {hi}])"
                )
            cur = e
        if cur != hi:
            raise ValueError(
                f"WAL gap in {self.dir}: segments end at {cur}, offset "
                f"range requires {hi}"
            )
        return _pack_segments(segs, [os.path.getsize(p) for _s, _e, p in segs])

    def read(self, partition: WalSegmentPartition) -> Iterator:
        # Executor-side Arrow read of the partition's segments in LSN order
        # (columnar batches — the vectorized decode path the reference
        # lacks, SURVEY §1.2).
        import pyarrow as pa
        import pyarrow.parquet as pq

        paths = [path for _s, _e, path in partition.segments]
        # One partition is one Arrow stream, so its segments must share a
        # schema: promote them to a common one (a column that is all NULL
        # in one segment was written as Arrow's null type).
        common = pa.unify_schemas(
            [pq.read_schema(p) for p in paths], promote_options="permissive"
        )
        # Spark's Arrow bridge rejects nanosecond timestamps — coerce to us.
        target = pa.schema(
            [
                pa.field(f.name, pa.timestamp("us"))
                if pa.types.is_timestamp(f.type)
                else f
                for f in common
            ]
        )
        for path in paths:
            table = pq.read_table(path)
            yield from table.select(target.names).cast(target).to_batches()

    def commit(self, end: dict) -> None:
        # Standby-status-update analogue: persist the confirmed LSN for the
        # external slot keeper (stream.go:718-733).
        tmp = os.path.join(self.dir, "_confirmed.tmp")
        with open(tmp, "w") as f:
            json.dump({"confirmed_lsn": end["lsn"]}, f)
        os.replace(tmp, os.path.join(self.dir, "_confirmed"))


class LsnStreamDataSource(DataSource):
    """spark.readStream.format("pq_cdc_wal").option("path", dir).load();
    option("raw", "true") reads undecoded slot-keeper segments
    (lsn, xid, data) for JVM-side wal2json decoding."""

    @classmethod
    def name(cls) -> str:
        return "pq_cdc_wal"

    def schema(self) -> str:
        if str(self.options.get("raw", "")).lower() in ("1", "true"):
            return RAW_WAL_SCHEMA_DDL
        if str(self.options.get("envelope", "")).lower() in ("1", "true"):
            return ENVELOPE_WAL_SCHEMA_DDL
        return WAL_SCHEMA_DDL

    def streamReader(self, schema) -> LsnStreamReader:
        return LsnStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(LsnStreamDataSource)


def wal_stream(spark, wal_dir: str, segments: str):
    """The change stream over `wal_dir`: `segments` is "envelope" (the
    socket pump's decoded envelope segments) or "raw" (the slot keeper's
    undecoded (lsn, xid, data) segments). The JVM's first Python data
    source registration spends 1.5-2 s scanning the Python path for
    `pyspark_*` sources in a fresh worker; later ones take milliseconds."""
    register(spark)
    return (
        spark.readStream.format("pq_cdc_wal")
        .option("path", wal_dir)
        .option(segments, "true")
        .load()
    )


def confirmed_lsn(dir_path: str) -> int | None:
    """What the slot keeper would flush to the server."""
    p = os.path.join(dir_path, "_confirmed")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["confirmed_lsn"]
