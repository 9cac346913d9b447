"""Object-store arm of the MIRROR's coordination (r9; r8 verdict item 1).

r8 put the chunk queue's markers behind `ClaimBackend`; the mirror's merge
lock, live manifest, and per-epoch manifest snapshots stayed POSIX-only.
Now every mirror coordination file rides the same backend — these tests
drive `merge_mirror_batch` / time travel / the lock-loss + commit-CAS
abort paths against `FakeObjectStore` (real precondition failures), the
same way tests/test_claim_backend.py proves the queue. Data parquet stays
on the local filesystem via Spark's Hadoop FS — exactly the split a real
S3 deployment has (coordination via conditional requests, data via s3a).

Reference analogue: location-independent Postgres-backed coordination,
/root/reference/pq/snapshot/worker.go:421-484.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row

from go_pq_cdc_spark.snapshot.claim_backend import (
    FakeObjectStore,
    ObjectStoreBackend,
)
from go_pq_cdc_spark.streaming.changelog_stream import (    FLAT_CHANGE_SCHEMA,
    MirrorLockLost,
    _MergeLock,
    _read_manifest_versioned,
    lookup_mirror,
    merge_mirror_batch,
    read_mirror,
    read_mirror_as_of,
)


# slow tier (r13 verdict item 1): excluded from the default pytest run
# so the driver's gate finishes inside its window; run with
# `pytest -m "slow or not slow"` (full) or `-m slow` (this tier only).
pytestmark = pytest.mark.slow



@pytest.fixture()
def be(mount_backend, tmp_path):
    """A fake store mounted at the test's tmp root: every mirror under it
    coordinates through the store, with no backend argument anywhere."""
    return mount_backend(str(tmp_path), ObjectStoreBackend(FakeObjectStore()))


def _ev(op, lsn, xid, pk, val):
    return Row(
        op=op,
        lsn=lsn,
        xid=xid,
        commit_ts=datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=lsn),
        pk=pk,
        after_val=val,
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, FLAT_CHANGE_SCHEMA)


def test_merge_and_reads_over_object_store(spark, tmp_path, be):
    """Merge + current read + point lookup with EVERY coordination file in
    the fake store: no manifest.json / .merge.lock.json / manifests/ ever
    touches the local filesystem; the data parquet does (Spark's FS)."""
    state = str(tmp_path / "state")
    merge_mirror_batch(
        _batch(spark, [_ev("I", i, 1, i, float(i)) for i in range(1, 9)]),
        state,
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 20, 2, 3, 33.0), _ev("D", 21, 2, 5, None)]),
        state,
    )
    got = {
        r["pk"]: r["after_val"]
        for r in read_mirror(spark, state).collect()
    }
    assert got == {1: 1.0, 2: 2.0, 3: 33.0, 4: 4.0, 6: 6.0, 7: 7.0, 8: 8.0}
    # bucket-pruned lookup through the store-held manifest
    assert {
        r["pk"]: r["after_val"]
        for r in lookup_mirror(spark, state, [3, 5, 8]).collect()
    } == {3: 33.0, 8: 8.0}
    # coordination lives in the store...
    keys = set(be.client.objects)
    assert f"{state}/manifest.json" in keys
    assert any("/manifests/e" in k for k in keys)
    # ...and NOT on the local filesystem
    assert not os.path.exists(os.path.join(state, "manifest.json"))
    assert not os.path.exists(os.path.join(state, "manifests"))
    assert not os.path.exists(os.path.join(state, ".merge.lock.json"))
    # data parquet is real local files under epochs/
    assert os.path.isdir(os.path.join(state, "epochs"))


def test_time_travel_and_gc_over_object_store(spark, tmp_path, be):
    """keep_epochs retention + read_mirror_as_of over store-held manifest
    snapshots; GC deletes aged snapshots from the store and unreferenced
    epoch dirs from the data filesystem."""
    state = str(tmp_path / "state")
    merge_mirror_batch(
        _batch(spark, [_ev("I", 1, 1, 1, 1.0)]), state,
        keep_epochs=2,
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 2, 2, 1, 2.0)]), state
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 3, 3, 1, 3.0)]), state
    )
    as_of = {
        e: {r["pk"]: r["after_val"]
            for r in read_mirror_as_of(spark, state, e).collect()}
        for e in (1, 2)
    }
    assert as_of == {1: {1: 2.0}, 2: {1: 3.0}}
    # epoch 0 aged out of the retention window (store-side delete)
    with pytest.raises(ValueError, match="not retained"):
        read_mirror_as_of(spark, state, 0)
    snaps = sorted(k for k in be.client.objects if "/manifests/e" in k)
    assert [s.rsplit("/", 1)[1] for s in snaps] == [
        "e000000001.json", "e000000002.json",
    ]
    # GC removed the data dirs no retained manifest references
    live = set()
    for e in (1, 2):
        m, _ = _read_manifest_versioned(state)
    m1, _ = be.read(f"{state}/manifests/e000000001.json")
    m2, _ = be.read(f"{state}/manifests/e000000002.json")
    live = {v for m in (m1, m2) for v in m["buckets"].values()}
    eroot = os.path.join(state, "epochs")
    on_disk = {
        os.path.join("epochs", e, b)
        for e in os.listdir(eroot)
        for b in os.listdir(os.path.join(eroot, e))
        if b.startswith("pb=")
    }
    assert on_disk == live


def test_lock_loss_aborts_before_commit(spark, tmp_path, be):
    """A holder that loses the merge lock to a TTL takeover aborts at the
    ownership fence BEFORE any manifest write — the new owner's commits
    survive, the loser's epoch dir is an unreferenced orphan."""
    state = str(tmp_path / "state")
    merge_mirror_batch(
        _batch(spark, [_ev("I", 1, 1, 1, 1.0)]), state
    )
    # zombie takes the lock, then a peer steals it (TTL 0 -> stale at once)
    zombie = _MergeLock(state, ttl_s=3600)
    zombie.acquire()
    peer = _MergeLock(state, ttl_s=0.0)
    peer.acquire()
    with pytest.raises(MirrorLockLost):
        zombie.check_owned()
    # conditional release: the evicted zombie must NOT delete peer's lock
    zombie.release()
    peer.check_owned()  # still held
    peer.release()
    # and the mirror still merges normally afterwards
    merge_mirror_batch(
        _batch(spark, [_ev("U", 2, 2, 1, 9.0)]), state
    )
    assert {
        r["after_val"] for r in read_mirror(spark, state).collect()
    } == {9.0}


def test_zombie_past_fence_loses_manifest_cas(spark, tmp_path, be, monkeypatch):
    """The r8 advisor's residual window: a paused holder that slips PAST
    the ownership fence (simulated by disabling check_owned) must still
    lose at the commit point on an object store — the manifest swap is a
    CAS on the etag read at merge start, so the stale writer raises
    MirrorLockLost and the peer's state is never overwritten. On POSIX
    this window is documented last-writer-wins; here it is CLOSED."""
    state = str(tmp_path / "state")
    # keep_epochs=2 pins retention so the peer's GC keeps epoch 0's bucket
    # dirs — the zombie must reach its COMMIT point (not die early on a
    # GC'd input path) for this test to prove the CAS specifically
    merge_mirror_batch(
        _batch(spark, [_ev("I", 1, 1, 1, 1.0)]), state,
        keep_epochs=2,
    )

    fired = {"done": False}
    orig_read = ObjectStoreBackend.read

    def hooked_read(self, path):
        doc, etag = orig_read(self, path)
        if (
            not fired["done"]
            and path == f"{state}/manifest.json"
            and doc is not None
            and in_zombie_merge["active"]
        ):
            # between the zombie's manifest read and its commit, a peer
            # commits a full merge (same store)
            fired["done"] = True
            in_zombie_merge["active"] = False
            merge_mirror_batch(
                _batch(spark, [_ev("U", 5, 5, 1, 55.0)]),
                state,
                lock_ttl_s=0.0,  # steals the zombie's (stale-judged) lock
            )
        return doc, etag

    in_zombie_merge = {"active": True}
    monkeypatch.setattr(ObjectStoreBackend, "read", hooked_read)
    # zombie slips past the fence: the exact interleave the advisor flagged
    monkeypatch.setattr(_MergeLock, "check_owned", lambda self: None)

    with pytest.raises(MirrorLockLost):
        # aborts at the guarded snapshot publish ("already committed by a
        # peer") or, had it slipped past that too, at the manifest CAS —
        # either way BEFORE touching committed state
        merge_mirror_batch(
            _batch(spark, [_ev("U", 9, 9, 1, 99.0)]), state
        )
    # the peer's commit is intact; the zombie's value never landed
    live = {
        r["after_val"] for r in read_mirror(spark, state).collect()
    }
    assert live == {55.0}
    # and the peer's EPOCH SNAPSHOT is intact too (review r9: the zombie's
    # pre-commit snapshot write used to be unconditional, so time travel
    # to the committed epoch could serve the aborted merge's bucket set)
    m, _ = be.read(f"{state}/manifest.json")
    snap, _ = be.read(f"{state}/manifests/e{m['epoch']:09d}.json")
    assert snap == m
    assert {
        r["after_val"]
        for r in read_mirror_as_of(spark, state, m["epoch"]).collect()
    } == {55.0}


def test_heartbeat_cannot_reinstall_after_takeover(be, tmp_path):
    """ADVICE r8: a paused holder's heartbeat did read-then-unconditional
    replace and could re-install its lock over a peer's takeover. On the
    store the refresh is an etag CAS: once the peer swapped, the old
    holder's swap (with its stale etag) returns False."""
    state = str(tmp_path / "state")
    a = _MergeLock(state, ttl_s=3600)
    a.acquire()
    path = a.path
    # a's beat reads the doc (this is where the pause happens)...
    doc_a, etag_a = be.read(path)
    assert doc_a["owner"] == a.owner
    # ...peer takes over meanwhile
    b = _MergeLock(state, ttl_s=0.0)
    b.acquire()
    # ...a resumes its beat: the CAS with the pre-takeover etag must fail
    assert be.swap(path, doc_a, etag_a) is False
    cur, _ = be.read(path)
    assert cur["owner"] == b.owner
    a.release()  # conditional: must not remove b's lock
    b.check_owned()
    b.release()  # stops b's heartbeat thread


def test_crash_orphan_snapshot_is_replaced_on_retry(spark, tmp_path, be):
    """A merge that crashed AFTER writing its epoch snapshot but BEFORE
    the live swap leaves an orphan e{N}.json; the retry (same epoch — the
    live counter never advanced) must replace the orphan and commit,
    never abort on it (put_if_absent alone would wrongly treat the
    orphan as a peer's commit)."""
    state = str(tmp_path / "state")
    merge_mirror_batch(
        _batch(spark, [_ev("I", 1, 1, 1, 1.0)]), state
    )
    # fabricate the crash artifact: epoch 1's snapshot exists with stale
    # content while the live manifest is still at epoch 0
    m, _ = be.read(f"{state}/manifest.json")
    assert m["epoch"] == 0
    orphan = dict(m, epoch=1, buckets={"0": "epochs/e000000001.deadbeef/pb=0"})
    assert be.put_if_absent(f"{state}/manifests/e000000001.json", orphan)

    merge_mirror_batch(
        _batch(spark, [_ev("U", 2, 2, 1, 2.0)]), state
    )
    m2, _ = be.read(f"{state}/manifest.json")
    assert m2["epoch"] == 1
    snap, _ = be.read(f"{state}/manifests/e000000001.json")
    assert snap == m2  # the orphan was replaced by the committed manifest
    assert {
        r["after_val"] for r in read_mirror(spark, state).collect()
    } == {2.0}


def test_streaming_mirror_sink_over_object_store(spark, tmp_path, be):
    """The full Structured Streaming sink path (foreachBatch -> merge)
    with coordination in the store: micro-batches commit epochs via the
    CAS'd manifest swap, and the final state is queryable through the
    store-held manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_pq_cdc_spark.streaming.changelog_stream import mirror_sink

    src = tmp_path / "stream_src"
    src.mkdir()
    state = str(tmp_path / "state")

    def write_batch(rows, name):
        pdf_rows = [
            (r.op, r.lsn, r.xid, r.commit_ts, r.pk, r.after_val) for r in rows
        ]
        tbl = pa.table({
            "op": pa.array([x[0] for x in pdf_rows], pa.string()),
            "lsn": pa.array([x[1] for x in pdf_rows], pa.int64()),
            "xid": pa.array([x[2] for x in pdf_rows], pa.int64()),
            "commit_ts": pa.array([x[3] for x in pdf_rows], pa.timestamp("us")),
            "pk": pa.array([x[4] for x in pdf_rows], pa.int64()),
            "after_val": pa.array([x[5] for x in pdf_rows], pa.float64()),
        })
        pq.write_table(tbl, str(src / name))

    write_batch([_ev("I", 1, 1, 1, 1.0), _ev("I", 2, 1, 2, 2.0)], "b0.parquet")
    stream = (
        spark.readStream.schema(FLAT_CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = mirror_sink(stream, state, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        write_batch([_ev("U", 3, 2, 1, 11.0), _ev("D", 4, 2, 2, None)],
                    "b1.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    assert {
        r["pk"]: r["after_val"]
        for r in read_mirror(spark, state).collect()
    } == {1: 11.0}
    m, _ = be.read(f"{state}/manifest.json")
    assert m["epoch"] >= 1
    assert not os.path.exists(os.path.join(state, "manifest.json"))


def test_mounted_root_reads_need_no_backend_argument(spark, tmp_path, be):
    """A mirror written through a mounted object store is read back by
    calls that name no backend: the engine's `current_state` and
    `lookup`, time travel and `mirror_stats` each resolve the store from
    the path. A read that fell back to POSIX would find no manifest.json
    and serve an empty mirror without an error."""
    from go_pq_cdc_spark.config import EngineConfig, TableConfig
    from go_pq_cdc_spark.engine import CdcEngine
    from go_pq_cdc_spark.streaming.changelog_stream import mirror_stats

    state = str(tmp_path / "state")
    merge_mirror_batch(
        _batch(spark, [_ev("I", i, 1, i, float(i)) for i in range(1, 6)]),
        state,
        keep_epochs=2,
    )
    assert f"{state}/manifest.json" in be.client.objects
    assert not os.path.exists(os.path.join(state, "manifest.json"))
    eng = CdcEngine(
        EngineConfig(tables=[TableConfig("users"), TableConfig("cdc_heartbeat")]),
        spark,
    )
    want = {i: float(i) for i in range(1, 6)}

    def rows(df):
        return {r["pk"]: r["after_val"] for r in df.collect()}

    assert rows(eng.current_state(state)) == want
    assert rows(eng.lookup(state, [2, 4, 9])) == {2: 2.0, 4: 4.0}
    assert rows(read_mirror_as_of(spark, state, 0)) == want
    stats = mirror_stats(spark, state)
    assert stats["epoch"] == 0 and stats["base_files"] > 0
