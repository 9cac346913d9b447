"""Object-store arm of the cooperative chunk queue (r7 verdict item 3).

`snapshot.claim_backend.ObjectStoreBackend` maps the queue's three atomic
primitives to S3/GCS-style conditional requests (If-None-Match put,
If-Match swap/delete); `FakeObjectStore` implements that contract
in-memory with REAL precondition failures, so claim/steal/complete races
run without a cloud dependency. The queue semantics exercised here are
the same ones tests/test_chunk_queue.py proves on the POSIX arm — plus
the CAS behaviors only an etag-enforcing store provides (the reference's
queue is Postgres-backed and thus CAS-native, worker.go:421-484; this is
the equivalent for a bucket-hosted state_dir)."""

from __future__ import annotations

import os
import time

import pytest

from go_pq_cdc_spark.snapshot import chunk_queue as Q
from go_pq_cdc_spark.snapshot.claim_backend import (
    FakeObjectStore,
    ObjectStoreBackend,
)


@pytest.fixture()
def be(mount_backend):
    """One fake store, mounted at the bucket roots the tests use."""
    be = ObjectStoreBackend(FakeObjectStore())
    for root in ("s3://bucket", "s3://b"):
        mount_backend(root, be)
    return be


def _mk_queue(be, n=4, state="s3://bucket/state"):
    chunks = [{"chunk_index": i, "where": f"pk chunk {i}"} for i in range(n)]
    Q.init_chunk_queue(state, chunks)
    return state


def test_lifecycle_on_object_store(be):
    """init → exclusive claims in index order → complete → stats →
    all_chunks_completed, entirely through conditional requests (no
    filesystem I/O — the state path is a bucket URI)."""
    state = _mk_queue(be, n=3)
    a = Q.claim_next_chunk(state, "app-a")
    b = Q.claim_next_chunk(state, "app-b")
    assert a.index == 0 and b.index == 1
    assert Q.chunk_queue_stats(state)["in_progress"] == 2
    a.complete(rows_processed=11)
    b.complete(rows_processed=22)
    c = Q.claim_next_chunk(state, "app-a")
    assert c.index == 2
    c.complete(rows_processed=33)
    st = Q.chunk_queue_stats(state)
    assert st["completed"] == 3 and st["rows_processed"] == 66
    assert Q.all_chunks_completed(state)
    # every marker lives in the fake store, keyed under the bucket URI
    assert all(k.startswith("s3://bucket/state/chunks/")
               for k in be.client.objects)


def test_exists_probes_use_head_not_get(be):
    """Existence probes (done/claim markers — O(chunks) per drain poll)
    must be HEAD requests, never body downloads (r8 advisor), and the
    drain loop's per-iteration bookkeeping must be ONE count-only stats
    pass (no rows_processed GETs)."""
    calls = {"get": 0, "head": 0}
    store = be.client
    orig_get, orig_head = store.get, store.head

    def get(key):
        calls["get"] += 1
        return orig_get(key)

    def head(key):
        calls["head"] += 1
        return orig_head(key)

    store.get, store.head = get, head
    state = _mk_queue(be, n=3)
    a = Q.claim_next_chunk(state, "app-a")
    a.complete(rows_processed=5)
    calls["get"] = calls["head"] = 0
    assert be.exists(Q._done_path(state, 0))
    assert calls == {"get": 0, "head": 1}
    # count-only stats: marker sweeps are all HEADs; the only GET is the
    # manifest itself
    calls["get"] = calls["head"] = 0
    st = Q.chunk_queue_stats(state, with_rows=False)
    assert st["completed"] == 1 and st["rows_processed"] == 0
    assert calls["get"] == 1 and calls["head"] >= 3
    # drain to completion still works through the fast path
    Q.drain(state, lambda chunk, claim: 0, instance_id="app-a",
            timeout_s=5.0)
    assert Q.all_chunks_completed(state)


def test_manifest_first_writer_wins_conditional_put(be):
    state = "s3://b/s"
    first = Q.init_chunk_queue(state, [{"chunk_index": 0, "where": "a"}])
    second = Q.init_chunk_queue(
        state,
        [{"chunk_index": 0, "where": "b"}, {"chunk_index": 1, "where": "c"}],
    )
    assert first == second  # the later divergent plan lost the If-None-Match
    assert [c["where"] for c in Q.read_manifest(state)] == ["a"]


def test_stale_takeover_is_true_cas(be):
    """The double-stale window that is last-writer-wins on POSIX is a
    clean race on the object store: both peers read the stale claim's
    etag; the first swap wins, the second 412s and moves on — exactly
    one owner, ever."""
    state = _mk_queue(be, n=1)
    dead = Q.claim_next_chunk(state, "app-dead", claim_ttl_s=0.05)
    assert dead.index == 0
    time.sleep(0.08)
    path = f"{state}/chunks/claim.0.json"
    doc, etag = be.read(path)
    assert doc["instance_id"] == "app-dead"
    # peer 1 and peer 2 both hold the same pre-takeover etag
    winner = {"instance_id": "app-1", "chunk_index": 0,
              "claimed_at": time.time(), "heartbeat_at": time.time()}
    loser = {"instance_id": "app-2", "chunk_index": 0,
             "claimed_at": time.time(), "heartbeat_at": time.time()}
    assert be.swap(path, winner, etag) is True
    assert be.swap(path, loser, etag) is False  # 412, not a silent clobber
    cur, _ = be.read(path)
    assert cur["instance_id"] == "app-1"


def test_heartbeat_cas_loses_cleanly(be):
    """A heartbeat racing a takeover fails its If-Match and raises —
    the loser stops processing instead of resurrecting its claim."""
    state = _mk_queue(be, n=1)
    a = Q.claim_next_chunk(state, "app-a", claim_ttl_s=0.05)
    time.sleep(0.08)
    b = Q.claim_next_chunk(state, "app-b", claim_ttl_s=0.05)
    assert b is not None and b.index == 0
    with pytest.raises(RuntimeError, match="claim lost"):
        a.heartbeat()
    # and the evicted loser's release must not delete the new owner's row
    a.release()
    cur, _ = be.read(f"{state}/chunks/claim.0.json")
    assert cur is not None and cur["instance_id"] == "app-b"


def test_duplicate_completion_keeps_first_marker(be):
    state = _mk_queue(be, n=1)
    a = Q.claim_next_chunk(state, "app-a", claim_ttl_s=0.05)
    time.sleep(0.08)
    b = Q.claim_next_chunk(state, "app-b", claim_ttl_s=0.05)
    b.complete(rows_processed=10)
    a.complete(rows_processed=99)  # post-takeover loser: If-None-Match 412s
    assert Q.chunk_queue_stats(state)["rows_processed"] == 10


def test_torn_object_is_replaced(be):
    state = _mk_queue(be, n=1)
    path = f"{state}/chunks/claim.0.json"
    assert be.client.put(path, b"{half a js", if_none_match=True) is not None
    got = Q.claim_next_chunk(state, "app-a", claim_ttl_s=300)
    assert got is not None and got.index == 0


def test_drain_two_workers_split_queue(be):
    """Two interleaved drains over the object store: no overlap, no gap,
    every chunk exactly one done marker (the chaos invariant)."""
    state = _mk_queue(be, n=8)
    seen: list[tuple[str, int]] = []

    def worker(name):
        def process(chunk, claim):
            seen.append((name, chunk["chunk_index"]))
            return 1
        return process

    import threading

    t1 = threading.Thread(
        target=lambda: Q.drain(state, worker("w1"), "w1", timeout_s=30)
    )
    t2 = threading.Thread(
        target=lambda: Q.drain(state, worker("w2"), "w2", timeout_s=30)
    )
    t1.start(); t2.start(); t1.join(30); t2.join(30)
    assert Q.all_chunks_completed(state)
    done = sorted(i for _w, i in seen)
    assert done == list(range(8))  # each chunk processed exactly once
    dones = [k for k in be.client.objects if "/done." in k]
    assert len(dones) == 8


def test_reset_clears_bucket_markers(be):
    state = _mk_queue(be, n=2)
    Q.claim_next_chunk(state, "app-a").complete(rows_processed=1)
    Q.reset(state)
    assert Q.read_manifest(state) == []
    assert not [k for k in be.client.objects
                if k.startswith(f"{state}/chunks/")]


@pytest.mark.parametrize("planned", [True, False], ids=["planner_given", "planner_omitted"])
def test_engine_cooperative_seed_over_object_store(
    spark, tmp_path, be, mount_backend, planned
):
    """engine.start over a state_dir with an ObjectStoreBackend mounted:
    the chunk queue's markers AND the mirror's coordination (merge lock,
    manifest, epoch snapshots — r8 verdict item 1) land in the bucket, while the
    data parquet lands under state_dir through Spark's FS connectors —
    the 100 TB deployment shape with zero POSIX coordination. With no
    chunk_planner the whole-table seed is a one-chunk plan on the same
    queue: nothing lands on local disk but the data parquet, and a
    restart skips the completed seed."""
    import os

    from pyspark.sql import Row

    from go_pq_cdc_spark.config import EngineConfig, TableConfig
    from go_pq_cdc_spark.engine import CdcEngine
    from go_pq_cdc_spark.streaming import read_mirror

    cfg = EngineConfig(
        tables=[TableConfig(name="users")],
        snapshot_mode="snapshot_only",
        snapshot_tables=["public.users"],
        heartbeat_enabled=False,
    )
    eng = CdcEngine(cfg, spark)
    source = spark.createDataFrame(
        [Row(pk=i, after_val=float(i)) for i in range(1, 21)]
    )

    def chunk_planner(tcfg):
        from go_pq_cdc_spark.snapshot.planner import plan_integer_range

        return Q.manifest_from_plan(plan_integer_range("pk", 1, 20, chunk_size=10))

    reads = []

    def chunk_reader(tcfg, chunk):
        reads.append(chunk["chunk_index"])
        if not planned:
            return source
        return source.filter(
            (source.pk >= chunk["range_start"]) & (source.pk <= chunk["range_end"])
        )

    wal_lsn = {"v": "0/64"}  # 100

    def run_sql(sql):
        return [(wal_lsn["v"],)] if "pg_current_wal_lsn" in sql else []

    state_dir = str(tmp_path / "state")
    mount_backend(state_dir, be)
    args = (run_sql, str(tmp_path / "wal"), state_dir, str(tmp_path / "ckpt"))
    kw = {"chunk_planner": chunk_planner} if planned else {}
    lsn, q = eng.start(*args, chunk_reader=chunk_reader, **kw)
    assert q is None and lsn == 100
    assert reads == ([0, 1] if planned else [0])
    assert {
        r["pk"] for r in read_mirror(spark, state_dir).collect()
    } == set(range(1, 21))
    # ALL coordination went through the bucket, not the filesystem:
    # queue markers, the mirror manifest, and its epoch snapshots
    assert [k for k in be.client.objects if "/done." in k]
    assert f"{state_dir}/manifest.json" in be.client.objects
    assert [k for k in be.client.objects if "/manifests/e" in k]
    assert not os.path.exists(
        os.path.join(state_dir, "chunks", "public__users", "_manifest.json")
    )
    assert not os.path.exists(os.path.join(state_dir, "manifest.json"))
    assert not [n for n in os.listdir(state_dir) if n.startswith("_snapshot_")]
    # the data parquet is real files under state_dir (Spark's FS)
    assert os.path.isdir(os.path.join(state_dir, "epochs"))
    # restart: the completed seed is skipped and its stored LSN reused
    wal_lsn["v"] = "0/1000"
    lsn2, _ = eng.start(*args, chunk_reader=chunk_reader, **kw)
    assert lsn2 == 100 and reads == ([0, 1] if planned else [0])


def test_zero_ttl_merge_lock_heartbeat_does_not_spin(mount_backend):
    """A merge lock held with ttl_s=0 (the takeover idiom; also reachable
    through `merge_mirror_batch(lock_ttl_s=0.0)`) heartbeats at a floored
    period instead of busy-looping backend reads and swaps."""
    from go_pq_cdc_spark.streaming.changelog_stream import _MergeLock

    class CountingBackend(ObjectStoreBackend):
        reads = 0

        def read(self, path):
            CountingBackend.reads += 1
            return super().read(path)

    mount_backend("s3://bucket/mirror", CountingBackend(FakeObjectStore()))
    lock = _MergeLock("s3://bucket/mirror", ttl_s=0.0)
    lock.acquire()
    try:
        time.sleep(0.5)
    finally:
        lock.release()
    # ~10 beats of 2 reads each at the 50 ms floor; a spinning beat does
    # thousands in 0.5 s
    assert CountingBackend.reads <= 50


def test_backend_for_longest_mount_on_whole_components(mount_backend, tmp_path):
    """`backend_for` picks the longest mounted root containing the path,
    matching whole components; unmounted local paths get the POSIX
    default and unmounted URIs raise instead of making a local `s3a:`
    directory."""
    from go_pq_cdc_spark.snapshot.claim_backend import (
        DEFAULT_BACKEND,
        backend_for,
        root_key,
    )

    def store():
        return ObjectStoreBackend(FakeObjectStore())

    outer = mount_backend("s3a://bkt/", store())
    inner = mount_backend("s3a://bkt/state/deep", store())
    assert backend_for("s3a://bkt/state") is outer
    assert backend_for("s3a://bkt/state/deep/chunks/") is inner
    assert backend_for("s3a://bkt/state/deeper") is outer
    with pytest.raises(ValueError, match="mount"):
        backend_for("s3a://other/state")
    st = mount_backend(str(tmp_path / "a" / "st"), store())
    assert backend_for(str(tmp_path / "a" / "st" / "manifest.json")) is st
    assert backend_for(str(tmp_path / "a" / "state")) is DEFAULT_BACKEND
    # one normalization, shared with the mirror's view registry
    assert root_key("s3a://bkt/state/") == root_key("s3a://bkt/state")
    assert root_key("rel/dir") == os.path.abspath("rel/dir")


def test_no_public_callable_takes_a_backend():
    """The coordination medium is a property of the state root: outside
    `snapshot.claim_backend` (which maps roots to backends), no public
    function or method of the package takes it as an argument."""
    import importlib
    import inspect
    import pkgutil

    import go_pq_cdc_spark

    offenders = []
    pkg = go_pq_cdc_spark
    for info in pkgutil.walk_packages(pkg.__path__, f"{pkg.__name__}."):
        leaf = info.name.rsplit(".", 1)[1]
        if leaf.startswith("_") or leaf == "claim_backend":
            continue
        mod = importlib.import_module(info.name)
        for name, obj in vars(mod).items():
            if name.startswith("_") or getattr(obj, "__module__", "") != mod.__name__:
                continue
            funcs = [(name, obj)] if inspect.isfunction(obj) else []
            if inspect.isclass(obj):
                funcs += [
                    (f"{name}.{m}", getattr(obj, m))
                    for m in vars(obj)
                    if (not m.startswith("_") or m == "__init__")
                    and inspect.isfunction(getattr(obj, m))
                ]
            offenders += [
                f"{mod.__name__}.{qual}({p})"
                for qual, f in funcs
                for p in ("backend", "claim_backend")
                if p in inspect.signature(f).parameters
            ]
    assert offenders == []
