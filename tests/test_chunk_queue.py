"""Per-chunk cross-application snapshot cooperation (O23, chunk level).

Mirrors the reference's SKIP-LOCKED chunk queue semantics
(`/root/reference/pq/snapshot/worker.go:421-484`): N processes share one
table's chunks; claims are exclusive; a crashed owner's chunk is
reclaimed after its heartbeat goes stale; completions are idempotent.
No Spark needed — the queue is pure shared-filesystem state."""

from __future__ import annotations

import json
import os
import random
import signal
import subprocess
import sys
import threading
import time
from collections import Counter

import pytest

from go_pq_cdc_spark.snapshot import chunk_queue as Q
from go_pq_cdc_spark.snapshot.claim_backend import FakeObjectStore, ObjectStoreBackend
from go_pq_cdc_spark.snapshot.planner import plan_integer_range


def _mk_queue(tmp_path, n=6):
    state = str(tmp_path / "state")
    chunks = [{"chunk_index": i, "where": f"pk chunk {i}"} for i in range(n)]
    Q.init_chunk_queue(state, chunks)
    return state


def test_manifest_first_writer_wins(tmp_path):
    state = str(tmp_path / "state")
    first = Q.init_chunk_queue(state, [{"chunk_index": 0, "where": "a"}])
    second = Q.init_chunk_queue(
        state, [{"chunk_index": 0, "where": "b"}, {"chunk_index": 1, "where": "c"}]
    )
    # divergent later plan must NOT replace the published queue
    assert first == second
    assert [c["where"] for c in Q.read_manifest(state)] == ["a"]


def test_manifest_from_plan_round_trip(tmp_path):
    plan = plan_integer_range("id", 0, 99, chunk_size=40)
    state = str(tmp_path / "state")
    Q.init_chunk_queue(state, Q.manifest_from_plan(plan))
    got = Q.read_manifest(state)
    assert [c["chunk_index"] for c in got] == [0, 1, 2]
    assert got[0]["partition_strategy"] == "integer_range"
    assert got[0]["range_start"] == 0 and got[-1]["range_end"] == 99
    assert all("where" in c for c in got)


def test_exclusive_claims_in_index_order(tmp_path):
    state = _mk_queue(tmp_path, n=3)
    a = Q.claim_next_chunk(state, "app-a")
    b = Q.claim_next_chunk(state, "app-b")
    assert a.index == 0 and b.index == 1  # never the same chunk
    c = Q.claim_next_chunk(state, "app-a")
    assert c.index == 2
    assert Q.claim_next_chunk(state, "app-b") is None  # all held
    assert Q.chunk_queue_stats(state)["in_progress"] == 3


def test_complete_and_stats(tmp_path):
    state = _mk_queue(tmp_path, n=2)
    a = Q.claim_next_chunk(state, "app-a")
    a.complete(rows_processed=123)
    st = Q.chunk_queue_stats(state)
    assert st == {
        "total": 2,
        "completed": 1,
        "in_progress": 0,
        "pending": 1,
        "rows_processed": 123,
    }
    assert not Q.all_chunks_completed(state)
    Q.claim_next_chunk(state, "app-b").complete(rows_processed=7)
    assert Q.all_chunks_completed(state)
    assert Q.chunk_queue_stats(state)["rows_processed"] == 130


def test_stale_claim_takeover_and_loser_heartbeat_raises(tmp_path):
    state = _mk_queue(tmp_path, n=1)
    dead = Q.claim_next_chunk(state, "app-dead", claim_ttl_s=0.2)
    assert dead.index == 0
    # live peer is refused while the heartbeat is fresh
    assert Q.claim_next_chunk(state, "app-b", claim_ttl_s=0.2) is None
    time.sleep(0.25)
    taken = Q.claim_next_chunk(state, "app-b", claim_ttl_s=0.2)
    assert taken is not None and taken.index == 0
    # the old owner must notice it lost the row (worker heartbeat contract)
    with pytest.raises(RuntimeError, match="claim lost"):
        dead.heartbeat()
    taken.complete(rows_processed=5)
    assert Q.all_chunks_completed(state)


def test_release_returns_chunk_immediately(tmp_path):
    state = _mk_queue(tmp_path, n=1)
    a = Q.claim_next_chunk(state, "app-a")
    a.release()
    b = Q.claim_next_chunk(state, "app-b", claim_ttl_s=300)
    assert b is not None and b.index == 0


def test_duplicate_completion_keeps_first_marker(tmp_path):
    state = _mk_queue(tmp_path, n=1)
    a = Q.claim_next_chunk(state, "app-a", claim_ttl_s=0.1)
    time.sleep(0.15)
    b = Q.claim_next_chunk(state, "app-b", claim_ttl_s=0.1)
    b.complete(rows_processed=10)
    a.complete(rows_processed=99)  # post-takeover loser: no clobber
    assert Q.chunk_queue_stats(state)["rows_processed"] == 10


def test_torn_claim_file_is_replaced(tmp_path):
    state = _mk_queue(tmp_path, n=1)
    os.makedirs(os.path.join(state, "chunks"), exist_ok=True)
    with open(os.path.join(state, "chunks", "claim.0.json"), "w") as f:
        f.write("{half a js")  # crashed pre-link writer
    got = Q.claim_next_chunk(state, "app-a", claim_ttl_s=300)
    assert got is not None and got.index == 0


def test_drain_two_workers_in_process(tmp_path):
    """Interleaved drains split the queue with no overlap and no gap."""
    state = _mk_queue(tmp_path, n=8)
    done_a = Q.drain(state, lambda c, cl: 1, "app-a", timeout_s=10)
    assert Q.all_chunks_completed(state)
    done_b = Q.drain(state, lambda c, cl: 1, "app-b", timeout_s=10)
    assert sorted(done_a) == list(range(8)) and done_b == []


_WORKER_SRC = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from go_pq_cdc_spark.snapshot import chunk_queue as Q

state, who, mode = sys.argv[1], sys.argv[2], sys.argv[3]
if mode == "hang":
    # claim one chunk, signal, then hold it WITHOUT heartbeating (a hard
    # crash: the test SIGKILLs us — the claim file must survive us and
    # go stale)
    claim = Q.claim_next_chunk(state, who)
    with open(os.path.join(state, f"sig.{{who}}"), "w") as f:
        json.dump({{"claimed": claim.index}}, f)
    time.sleep(60)
else:
    done = Q.drain(
        state,
        lambda c, cl: time.sleep(0.05) or 1,
        who,
        claim_ttl_s=1.0,
        poll_s=0.05,
        timeout_s=30,
    )
    with open(os.path.join(state, f"sig.{{who}}"), "w") as f:
        json.dump({{"done": done}}, f)
"""


def _spawn(state: str, who: str, mode: str) -> subprocess.Popen:
    import go_pq_cdc_spark

    repo = os.path.dirname(os.path.dirname(go_pq_cdc_spark.__file__))
    return subprocess.Popen(
        [sys.executable, "-c", _WORKER_SRC.format(repo=repo), state, who, mode],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
    )


def _wait_sig(state: str, who: str, timeout_s: float = 20.0) -> dict:
    path = os.path.join(state, f"sig.{who}")
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        time.sleep(0.05)
    raise TimeoutError(f"worker {who} never signalled")


def test_two_processes_split_one_table(tmp_path):
    """The verdict's done-criterion, part 1: two OS processes drain one
    queue cooperatively — disjoint claims, union = every chunk."""
    state = _mk_queue(tmp_path, n=10)
    p1 = _spawn(state, "w1", "drain")
    p2 = _spawn(state, "w2", "drain")
    assert p1.wait(timeout=30) == 0, p1.stderr.read().decode()
    assert p2.wait(timeout=30) == 0, p2.stderr.read().decode()
    d1 = _wait_sig(state, "w1")["done"]
    d2 = _wait_sig(state, "w2")["done"]
    assert sorted(d1 + d2) == list(range(10))
    assert set(d1) & set(d2) == set()
    assert Q.all_chunks_completed(state)


def test_killed_worker_chunk_is_reclaimed(tmp_path):
    """The verdict's done-criterion, part 2: SIGKILL a worker holding a
    claim mid-chunk; a peer with a short TTL takes the chunk over and the
    table still completes."""
    state = _mk_queue(tmp_path, n=4)
    hanger = _spawn(state, "dead", "hang")
    try:
        held = _wait_sig(state, "dead")["claimed"]
        assert held == 0
        os.kill(hanger.pid, signal.SIGKILL)
        hanger.wait(timeout=10)
        # claim file survives the kill → chunk is in_progress, not pending
        assert Q.chunk_queue_stats(state)["in_progress"] == 1
        survivor = _spawn(state, "live", "drain")
        assert survivor.wait(timeout=30) == 0, survivor.stderr.read().decode()
        done = _wait_sig(state, "live")["done"]
        assert sorted(done) == [0, 1, 2, 3]  # includes the reclaimed chunk
        assert Q.all_chunks_completed(state)
        assert Q.chunk_queue_stats(state)["completed"] == 4
    finally:
        if hanger.poll() is None:
            hanger.kill()


def test_drain_background_heartbeat_keeps_claim_fresh(tmp_path):
    """Review r7: heartbeat_every_s must run a REAL periodic heartbeat
    while the chunk processes — a chunk that takes longer than the claim
    TTL must not go stale under a heartbeating owner."""
    state = _mk_queue(tmp_path, n=1)
    peeked = {}

    def slow_process(chunk, claim):
        # processing takes 3x the TTL; the background beat must keep the
        # claim fresh the whole time
        for _ in range(3):
            time.sleep(0.3)
            peeked["steal"] = Q.claim_next_chunk(state, "thief", claim_ttl_s=0.3)
            assert peeked["steal"] is None, "claim went stale mid-processing"
        return 1

    done = Q.drain(
        state, slow_process, "owner", claim_ttl_s=0.3,
        heartbeat_every_s=0.1, timeout_s=10,
    )
    assert done == [0]
    assert Q.all_chunks_completed(state)


def test_drain_deadline_resets_on_peer_progress(tmp_path):
    """timeout_s bounds IDLE time, not total wall-clock (r7 advisor: a
    total deadline aborted long seeds even while progressing): a slow
    peer completing chunks past the original deadline keeps the drain
    alive, because every completion anywhere resets the clock."""
    import threading

    state = _mk_queue(tmp_path, n=3)
    # peer pre-claims chunks 0 and 2 with fresh heartbeats
    peer0 = Q.claim_next_chunk(state, "peer")
    peer2 = Q.claim_next_chunk(state, "peer")
    assert {peer0.index, peer2.index} == {0, 1}
    # re-map: peer holds 0 and 1; drain will take 2
    t0 = time.time()

    def finish_later():
        time.sleep(0.7)
        peer0.complete()
        time.sleep(0.7)
        peer2.complete()

    t = threading.Thread(target=finish_later)
    t.start()
    mine = Q.drain(state, lambda c, cl: 0, "me", timeout_s=1.0, poll_s=0.05)
    t.join()
    assert mine == [2]
    assert Q.all_chunks_completed(state)
    # total elapsed exceeded the 1.0s budget — only possible because
    # progress reset the deadline
    assert time.time() - t0 > 1.2


def test_drain_raises_on_genuine_idle(tmp_path):
    """A queue where nothing completes for timeout_s raises instead of
    spinning forever: the peer heartbeats (claim never goes stale) but
    never finishes."""
    import threading

    state = _mk_queue(tmp_path, n=1)
    claim = Q.claim_next_chunk(state, "peer", claim_ttl_s=300.0)
    stop = threading.Event()

    def beat():
        while not stop.wait(0.1):
            claim.heartbeat()

    t = threading.Thread(target=beat, daemon=True)
    t.start()
    try:
        with pytest.raises(TimeoutError, match="idle"):
            Q.drain(state, lambda c, cl: 0, "me", timeout_s=0.8, poll_s=0.05)
    finally:
        stop.set()
        t.join(timeout=2)


def test_reset_clears_queue_for_resnapshot(tmp_path):
    """Force-resnapshot at chunk granularity: reset() removes manifest +
    claim/done markers so a republished plan reprocesses everything
    (r7 advisor: persisted done markers made resnapshot a silent no-op)."""
    state = _mk_queue(tmp_path, n=2)
    Q.drain(state, lambda c, cl: 0, "me", timeout_s=5.0)
    assert Q.all_chunks_completed(state)
    Q.reset(state)
    assert Q.read_manifest(state) == []
    Q.init_chunk_queue(state, [{"chunk_index": 0, "where": "fresh"}])
    stats = Q.chunk_queue_stats(state)
    assert stats == {
        "total": 1, "completed": 0, "in_progress": 0,
        "pending": 1, "rows_processed": 0,
    }
    mine = Q.drain(state, lambda c, cl: 0, "me", timeout_s=5.0)
    assert mine == [0]


class _RemoteStore(FakeObjectStore):
    """Each request takes a round trip, as on a real store: a write lands
    after its request travels, a read's answer arrives after the lookup
    and may be stale by then."""

    def get(self, key):
        got = super().get(key)
        time.sleep(random.uniform(0, 0.0002))
        return got

    def head(self, key):
        got = super().head(key)
        time.sleep(random.uniform(0, 0.0002))
        return got

    def put(self, key, data, **kw):
        time.sleep(random.uniform(0, 0.0002))
        return super().put(key, data, **kw)

    def delete(self, key, **kw):
        time.sleep(random.uniform(0, 0.0002))
        return super().delete(key, **kw)


def _drain_with_three_threads(state: str, seed: int) -> Counter:
    """Times each chunk was processed by 3 concurrent drains, with 0-3 ms
    of work per chunk."""
    seen: Counter = Counter()
    lock = threading.Lock()
    errors: list[BaseException] = []

    def worker(who: str) -> None:
        rng = random.Random(f"{seed}:{who}")

        def work(chunk, _claim):
            time.sleep(rng.uniform(0, 0.003))
            with lock:
                seen[chunk["chunk_index"]] += 1
            return 1

        try:
            Q.drain(state, work, who, poll_s=0.005, timeout_s=30)
        except BaseException as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(f"w{i}",)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    return seen


@pytest.mark.parametrize("medium", ["posix", "object_store"])
def test_concurrent_drains_process_each_chunk_once(tmp_path, medium, mount_backend):
    """Exactly-once chunk processing under concurrent drains: `complete`
    writes the done marker and then deletes the claim, so a peer that
    probed the chunk before the marker landed finds a free claim slot on
    a finished chunk. A claim must re-check the marker after it wins."""
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # more interleavings per round
    try:
        for rnd in range(20):
            state = str(tmp_path / f"q{rnd}")
            if medium == "object_store":
                mount_backend(state, ObjectStoreBackend(_RemoteStore()))
            Q.init_chunk_queue(state, [{"chunk_index": i} for i in range(60)])
            seen = _drain_with_three_threads(state, rnd)
            twice = sorted(i for i, n in seen.items() if n > 1)
            assert twice == [] and sorted(seen) == list(range(60)), (rnd, twice)
    finally:
        sys.setswitchinterval(switch)
