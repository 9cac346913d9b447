"""LSN-offset custom streaming source (O1/O19): offsets advance with WAL
segments, reads are exactly the (start, end] range, commit persists the
confirmed LSN, restart resumes from the checkpoint."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row

from go_pq_cdc_spark.sources import lsn_stream
from go_pq_cdc_spark.streaming.changelog_stream import FLAT_CHANGE_SCHEMA


@pytest.fixture()
def wal(spark):
    base = tempfile.mkdtemp(prefix="gpcs_wal_")
    lsn_stream.register(spark)
    yield base
    shutil.rmtree(base, ignore_errors=True)


def _write_segment(spark, dir_path, start_lsn, end_lsn):
    rows = [
        Row(
            op="I",
            lsn=lsn,
            xid=lsn // 7,
            commit_ts=datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn),
            pk=lsn % 5,
            after_val=float(lsn),
        )
        for lsn in range(start_lsn, end_lsn + 1)
    ]
    pdf = spark.createDataFrame(rows, FLAT_CHANGE_SCHEMA).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    tmp = lsn_stream.segment_path(dir_path, start_lsn, end_lsn) + ".tmp"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, lsn_stream.segment_path(dir_path, start_lsn, end_lsn))


def test_lsn_offsets_and_commit(spark, wal):
    _write_segment(spark, wal, 0, 9)
    _write_segment(spark, wal, 10, 19)

    stream = spark.readStream.format("pq_cdc_wal").option("path", wal).load()
    ckpt = os.path.join(wal, "ckpt")
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wal_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM wal_out").collect()[0]["c"] == 20
        assert lsn_stream.confirmed_lsn(wal) in (None, 19)  # commit may lag one batch

        _write_segment(spark, wal, 20, 24)
        q.processAllAvailable()
        rows = spark.sql("SELECT min(lsn) lo, max(lsn) hi, count(*) c FROM wal_out").collect()[0]
        assert (rows["lo"], rows["hi"], rows["c"]) == (0, 24, 25)
    finally:
        q.stop()
    # Spark commits offset N when batch N+1 runs, so the confirmed LSN may
    # lag the tail by one batch — the reference has the same at-least-once
    # caveat on shutdown (stream.go:724-733 final-flush warning).
    assert lsn_stream.confirmed_lsn(wal) in (19, 24)


def test_restart_resumes_from_checkpoint(spark, wal):
    """Stop the query, land new WAL while it is down, restart with the same
    checkpoint: every event is delivered exactly once overall (the memory
    sink can't recover checkpoints, so this uses a file sink)."""
    _write_segment(spark, wal, 0, 9)
    ckpt = os.path.join(wal, "ckpt")
    out = os.path.join(wal, "out")

    def start():
        stream = spark.readStream.format("pq_cdc_wal").option("path", wal).load()
        return (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()

    # new data lands while the query is down
    _write_segment(spark, wal, 10, 14)
    q2 = start()
    try:
        q2.processAllAvailable()
        got = sorted(r["lsn"] for r in spark.read.parquet(out).collect())
        assert got == list(range(15)), "restart must deliver each event exactly once"
    finally:
        q2.stop()


def test_start_lsn_skips_backfilled_range(spark, wal):
    """O28 handoff: startlsn = snapshot LSN -> only post-snapshot segments
    are streamed."""
    _write_segment(spark, wal, 0, 9)
    _write_segment(spark, wal, 10, 19)
    stream = (
        spark.readStream.format("pq_cdc_wal")
        .option("path", wal)
        .option("startlsn", 9)
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wal_s")
        .option("checkpointLocation", os.path.join(wal, "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT min(lsn) lo, count(*) c FROM wal_s").collect()[0]
        assert (rows["lo"], rows["c"]) == (10, 10)
    finally:
        q.stop()


def test_out_of_order_segment_is_not_skipped(spark, wal):
    """A segment landing AFTER a later one must still be delivered: the
    offset parks before the gap instead of advancing past it (r2 verdict:
    the old `s > lo` filter silently dropped such segments — data loss)."""
    _write_segment(spark, wal, 0, 9)
    _write_segment(spark, wal, 20, 24)  # out of order: 10-19 missing
    stream = spark.readStream.format("pq_cdc_wal").option("path", wal).load()
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wal_gap")
        .option("checkpointLocation", os.path.join(wal, "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["lsn"] for r in spark.sql("SELECT lsn FROM wal_gap").collect())
        assert got == list(range(10)), "must park before the gap, not jump it"

        _write_segment(spark, wal, 10, 19)  # gap fills late
        q.processAllAvailable()
        got = sorted(r["lsn"] for r in spark.sql("SELECT lsn FROM wal_gap").collect())
        assert got == list(range(25)), "late segment must be delivered"
    finally:
        q.stop()


def test_partitions_raise_on_wal_hole():
    """If an offset range cannot be tiled by segments (segment deleted,
    offsets corrupted), the batch fails loudly instead of skipping data."""
    import pytest as _pytest

    base = tempfile.mkdtemp(prefix="gpcs_walhole_")
    try:
        reader = lsn_stream.LsnStreamReader({"path": base})
        open(os.path.join(base, "wal_0_9.parquet"), "w").close()
        open(os.path.join(base, "wal_20_24.parquet"), "w").close()
        with _pytest.raises(ValueError, match="WAL gap"):
            reader.partitions({"lsn": -1}, {"lsn": 24})
        assert reader.latestOffset() == {"lsn": 9}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _touch_segment(dir_path, start_lsn, end_lsn, size):
    """A segment file of `size` bytes (sparse — no disk cost): packing
    reads only sizes, never contents."""
    with open(lsn_stream.segment_path(dir_path, start_lsn, end_lsn), "wb") as f:
        f.truncate(size)


def test_partitions_pack_segments_by_bytes(tmp_path):
    """Small segments share one input partition in LSN order; a run whose
    packed size (bytes + per-file open cost) passes the cap splits into
    several partitions that stay contiguous and tile (lo, hi] exactly."""
    small = tmp_path / "small"
    small.mkdir()
    # landed out of LSN order: the packing order must come from the LSNs
    for k in (7, 2, 0, 9, 4, 1, 8, 3, 6, 5):
        _touch_segment(str(small), 10 * k, 10 * k + 9, 1000)
    (part,) = lsn_stream.LsnStreamReader({"path": str(small)}).partitions(
        {"lsn": -1}, {"lsn": 99}
    )
    assert [(s, e) for s, e, _p in part.segments] == [
        (10 * k, 10 * k + 9) for k in range(10)
    ]

    big = tmp_path / "big"
    big.mkdir()
    mb = 1 << 20
    sizes = [mb, 60 * mb, 60 * mb, 60 * mb, 10, 10, 130 * mb, 10] + [0] * 40
    for k, size in enumerate(sizes):
        _touch_segment(str(big), 100 + 10 * k, 109 + 10 * k, size)
    hi = 109 + 10 * (len(sizes) - 1)
    parts = lsn_stream.LsnStreamReader({"path": str(big)}).partitions(
        {"lsn": 99}, {"lsn": hi}
    )
    assert len(parts) > 1
    cur = 99
    for p in parts:
        for s, e, _path in p.segments:
            assert s == cur + 1
            cur = e
        seg_bytes = [os.path.getsize(path) for _s, _e, path in p.segments]
        # Spark's file-source rule: every file but the last fits under the
        # cap counting the open cost; only a lone file may exceed it
        packed = sum(b + lsn_stream.OPEN_COST_BYTES for b in seg_bytes[:-1])
        assert len(seg_bytes) == 1 or packed + seg_bytes[-1] <= (
            lsn_stream.MAX_PARTITION_BYTES
        )
    assert cur == hi


def test_one_batch_over_many_segments_delivers_each_row_once(spark, wal):
    """Six segments land before the query starts: one micro-batch, read
    as ONE input partition, delivers every event exactly once."""
    for k in range(6):
        _write_segment(spark, wal, 10 * k, 10 * k + 9)
    seen = []

    def collect(batch_df, _batch_id):
        seen.append(
            (batch_df.rdd.getNumPartitions(), [r["lsn"] for r in batch_df.collect()])
        )

    stream = spark.readStream.format("pq_cdc_wal").option("path", wal).load()
    q = (
        stream.writeStream.foreachBatch(collect)
        .option("checkpointLocation", os.path.join(wal, "ckpt_many"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batches = [b for b in seen if b[1]]
    assert len(batches) == 1
    n_parts, lsns = batches[0]
    assert n_parts == 1
    assert sorted(lsns) == list(range(60))
