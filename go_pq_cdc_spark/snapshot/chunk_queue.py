"""O23 — cross-APPLICATION snapshot cooperation at CHUNK granularity.

The reference lets N independent pods share ONE table's snapshot through
a SKIP-LOCKED chunk queue in PostgreSQL
(`/root/reference/pq/snapshot/worker.go:421-484`): `claimNextChunk`
selects the first `pending` chunk — or an `in_progress` chunk whose
`heartbeat_at` is older than `claimTimeout` — `FOR UPDATE SKIP LOCKED`,
stamps `claimed_by`/`claimed_at`/`heartbeat_at`, and the worker loop
processes it, heartbeating (`worker.go:383-399`) until
`markChunkCompleted` (`worker.go:568-585`) records `status='completed'`
plus `rows_processed`.

This queue is the engine's only snapshot-seed coordinator
(`CdcEngine._publish_seed` / `_drain_seed`): two or more Spark
APPLICATIONS split one giant table's chunks, and a whole-table seed is
the one-chunk plan `[{}]` (one app seeds, peers wait on its claim,
restarts skip it). The shared medium is the same state_dir the mirror
lives in:

    state_dir/chunks/_manifest.json   all chunk descriptors (immutable,
                                      first-writer-wins — the reference's
                                      insertChunks)
    state_dir/chunks/claim.<i>.json   in_progress row: instance_id,
                                      claimed_at, heartbeat_at
    state_dir/chunks/done.<i>.json    completed row: instance_id,
                                      rows_processed, finished_at

All marker I/O goes through the `ClaimBackend` mounted for the state
dir (`snapshot.claim_backend.backend_for`): the default
`PosixLinkBackend` keeps the original scheme — a claim is a hard LINK
of a privately-written tmp file (create-with-content; a peer can never
see a torn claim), takeover is an `os.replace` allowed only once the
current heartbeat is `claim_ttl_s` stale, and completion markers are
link-created. The POSIX takeover swap
is last-writer-wins inside the (rare) window where two apps pass the
staleness check together — acceptable exactly as in the reference, whose
chunk work is idempotent (re-reading a chunk re-merges the same rows;
our mirror merge is max-LSN-wins). `ObjectStoreBackend` maps the same
three primitives to S3/GCS conditional requests (If-None-Match /
If-Match), where the takeover is a TRUE compare-and-swap — the 100 TB
deployment shape, where state_dir is a bucket, not NFS.

Chunk descriptors are plain dicts from `snapshot.planner` (chunk_index,
plus range_start/range_end, block_start/block_end or
chunk_start/chunk_size per strategy) — the same 13-column shape
`parseClaimedChunk` (worker.go:488-553) round-trips.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from .claim_backend import backend_for

MANIFEST = "_manifest.json"


def _qdir(state_dir: str) -> str:
    return f"{state_dir}/chunks"


def _claim_path(state_dir: str, idx: int) -> str:
    return f"{_qdir(state_dir)}/claim.{idx}.json"


def _done_path(state_dir: str, idx: int) -> str:
    return f"{_qdir(state_dir)}/done.{idx}.json"


def manifest_from_plan(plan) -> list[dict]:
    """SnapshotPlan → queue chunk dicts: the planner's Chunk dataclass
    fields (the reference's 13-column chunk row, worker.go:472-475) plus
    the strategy, keyed by a dense chunk_index."""
    from dataclasses import asdict

    return [
        {
            **asdict(c),
            "chunk_index": c.index,
            "partition_strategy": str(plan.strategy.value),
        }
        for c in plan.chunks
    ]


def init_chunk_queue(
    state_dir: str,
    chunks: list[dict],
    meta: dict | None = None,
) -> list[dict]:
    """Publish the chunk manifest (the reference's insertChunks step).
    Idempotent and first-writer-wins: every cooperating app calls this
    with ITS plan; whichever lands first defines the queue and everyone
    (including later callers with a divergent plan) proceeds against the
    PUBLISHED manifest — two apps must never claim against different
    chunk lists. Chunks are normalized to carry a dense `chunk_index`.
    `meta` rides along first-writer-wins too — the engine publishes the
    snapshot handoff LSN there, so every cooperating app anchors its
    stream filter at ONE shared point (read it back with
    `read_queue_meta`)."""
    qdir = _qdir(state_dir)
    backend = backend_for(state_dir)
    backend.ensure_dir(qdir)
    norm = [
        {**c, "chunk_index": int(c.get("chunk_index", i))}
        for i, c in enumerate(chunks)
    ]
    backend.put_if_absent(f"{qdir}/{MANIFEST}", {"chunks": norm, "meta": meta or {}})
    return read_manifest(state_dir)


def read_manifest(state_dir: str) -> list[dict]:
    doc, _ = backend_for(state_dir).read(f"{_qdir(state_dir)}/{MANIFEST}")
    return list(doc["chunks"]) if doc and "chunks" in doc else []


def read_queue_meta(state_dir: str) -> dict:
    """The PUBLISHED manifest's meta (first-writer-wins, like the chunk
    list itself)."""
    doc, _ = backend_for(state_dir).read(f"{_qdir(state_dir)}/{MANIFEST}")
    return dict(doc.get("meta", {})) if doc else {}


@dataclass
class ChunkClaim:
    """A held claim on one chunk (worker.go's in_progress row)."""

    state_dir: str
    instance_id: str
    chunk: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.backend = backend_for(self.state_dir)

    @property
    def index(self) -> int:
        return int(self.chunk["chunk_index"])

    def heartbeat(self) -> None:
        """Refresh liveness (`updateChunkHeartbeat`, worker.go:556-566).
        Raises if the claim was taken over — the loser must STOP
        processing this chunk (its completion would clobber the new
        owner's) exactly like losing the reference's DB row. On an
        etag-enforcing backend the refresh is a CAS: losing the swap IS
        losing the claim."""
        path = _claim_path(self.state_dir, self.index)
        cur, etag = self.backend.read(path)
        if cur is None or cur.get("instance_id") != self.instance_id:
            raise RuntimeError(
                f"chunk {self.index} claim lost "
                f"(now owned by {cur and cur.get('instance_id')})"
            )
        cur["heartbeat_at"] = time.time()
        if not self.backend.swap(path, cur, etag):
            raise RuntimeError(
                f"chunk {self.index} claim lost (etag swap failed — a peer "
                f"took over between read and refresh)"
            )

    def complete(self, rows_processed: int = 0, info: dict | None = None) -> None:
        """Terminal marker (`markChunkCompleted`, worker.go:568-585):
        records rows_processed, then drops the claim row. Idempotent —
        a duplicate completion (post-takeover race) keeps the FIRST
        marker, matching the queue's at-least-once contract."""
        self.backend.put_if_absent(
            _done_path(self.state_dir, self.index),
            {
                "instance_id": self.instance_id,
                "rows_processed": int(rows_processed),
                "finished_at": time.time(),
                **(info or {}),
            },
        )
        self.release()

    def release(self) -> None:
        """Return an unfinished chunk to `pending` (clean shutdown
        mid-chunk) so a peer claims it immediately, not after the TTL.
        Conditional on still owning it — a takeover's claim row must not
        be deleted by the evicted loser."""
        path = _claim_path(self.state_dir, self.index)
        cur, etag = self.backend.read(path)
        if cur is not None and cur.get("instance_id") == self.instance_id:
            self.backend.delete(path, etag)


def claim_next_chunk(
    state_dir: str,
    instance_id: str | None = None,
    claim_ttl_s: float = 300.0,
) -> ChunkClaim | None:
    """Backend analogue of `claimNextChunk` (worker.go:421-484): walk
    chunks in chunk_index order and take the first that is pending (no
    claim, no done marker) or in_progress-with-stale-heartbeat (< now -
    ttl, the `claimTimeout` arm). Returns None when nothing is claimable
    — either all chunks are done (check `all_chunks_completed`) or live
    peers hold the remainder (the caller's drain loop polls/waits, like
    the reference worker idling on an empty SKIP LOCKED result). Every
    won claim re-checks the done marker, so a chunk a peer completed
    meanwhile is never processed twice."""
    instance_id = instance_id or f"app-{uuid.uuid4().hex[:12]}"
    backend = backend_for(state_dir)
    for chunk in sorted(read_manifest(state_dir), key=lambda c: c["chunk_index"]):
        idx = int(chunk["chunk_index"])
        done = _done_path(state_dir, idx)
        if backend.exists(done) or not _put_claim(
            backend, _claim_path(state_dir, idx), instance_id, idx, claim_ttl_s
        ):
            continue
        claim = ChunkClaim(state_dir, instance_id, chunk)
        if backend.exists(done):
            # `complete` writes the done marker, then deletes its claim: a
            # peer that finished this chunk since the probe above left a
            # free claim slot behind it. Give the slot back.
            claim.release()
            continue
        return claim
    return None


def _put_claim(
    backend, path: str, instance_id: str, idx: int, claim_ttl_s: float
) -> bool:
    """Write this instance's claim row for chunk `idx`: a fresh claim, a
    retry after the owner released between our failed put and the read,
    or a takeover of a torn or stale claim. True when the claim is ours."""
    now = time.time()
    doc = {
        "instance_id": instance_id,
        "chunk_index": idx,
        "claimed_at": now,
        "heartbeat_at": now,
    }
    if backend.put_if_absent(path, doc):
        return True
    cur, etag = backend.read(path)
    if cur is None:
        if not backend.exists(path):
            # owner released between publish failure and read: retry
            return backend.put_if_absent(path, doc)
        # torn claim object (crashed writer): replace it; waiting
        # would spin forever, since staleness needs a heartbeat
        stale = True
    else:
        stale = now - float(cur.get("heartbeat_at", 0)) > claim_ttl_s
    # POSIX: last-writer-wins takeover; object store: a TRUE CAS — losing
    # the swap means a peer took it first; move on
    return stale and backend.swap(path, doc, etag)


def chunk_queue_stats(state_dir: str, with_rows: bool = True) -> dict:
    """pending/in_progress/completed counts + total rows_processed (the
    reference's jobs-table `completed_chunks` / progress metrics).
    `with_rows=False` skips summing rows_processed so every marker probe
    is an existence check (a HEAD on object stores) instead of a
    full-body read — the drain loop's per-poll fast path (r8 advisor)."""
    backend = backend_for(state_dir)
    chunks = read_manifest(state_dir)
    done = in_prog = rows = 0
    for c in chunks:
        idx = int(c["chunk_index"])
        if with_rows:
            d, _ = backend.read(_done_path(state_dir, idx))
            is_done = d is not None
            if is_done:
                rows += int(d.get("rows_processed", 0))
        else:
            is_done = backend.exists(_done_path(state_dir, idx))
        if is_done:
            done += 1
        elif backend.exists(_claim_path(state_dir, idx)):
            in_prog += 1
    return {
        "total": len(chunks),
        "completed": done,
        "in_progress": in_prog,
        "pending": len(chunks) - done - in_prog,
        "rows_processed": rows,
    }


def all_chunks_completed(state_dir: str) -> bool:
    backend = backend_for(state_dir)
    chunks = read_manifest(state_dir)
    return bool(chunks) and all(
        backend.exists(_done_path(state_dir, int(c["chunk_index"])))
        for c in chunks
    )


def reset(state_dir: str) -> None:
    """Force-resnapshot support (reference config.go:328 `Resnapshot`;
    the coordinator wipes `cdc_snapshot_chunks` and restarts an
    incomplete/forced job, coordinator.go:28-61):
    remove the manifest and every claim/done marker so the next
    `init_chunk_queue` republishes a fresh plan and all chunks reprocess.
    Like the reference's wipe, this is a SINGLE-OPERATOR action — run it
    before starting the cooperating fleet, not concurrently with a live
    peer's drain (the wipe would un-done chunks mid-flight)."""
    qdir = _qdir(state_dir)
    backend = backend_for(state_dir)
    for name in backend.list_names(qdir):
        if (
            name == MANIFEST
            or name.startswith("claim.")
            or name.startswith("done.")
        ):
            backend.delete(f"{qdir}/{name}")


def drain(
    state_dir: str,
    process_chunk,
    instance_id: str | None = None,
    claim_ttl_s: float = 300.0,
    poll_s: float = 0.2,
    timeout_s: float = 600.0,
    heartbeat_every_s: float | None = None,
) -> list[int]:
    """Worker loop (the reference's `processChunks`, worker.go:150-200):
    claim → process → complete until every chunk is done. `process_chunk`
    receives (chunk_dict, claim) and returns rows_processed; it may call
    `claim.heartbeat()` itself for long chunks, or pass
    `heartbeat_every_s` to run a background heartbeat thread at that
    interval WHILE the chunk processes (the reference's worker
    heartbeater, worker.go:383-399) so a long read never goes stale
    under a shorter claim_ttl_s. Returns the chunk indexes THIS instance
    completed. When nothing is claimable but peers still hold chunks,
    polls until they finish or go stale.

    `timeout_s` is an IDLE bound, not total wall-clock: the deadline
    resets whenever the queue's completed count advances (this instance's
    or a peer's), so seeding a huge table never aborts while chunks are
    landing — only a genuinely stuck queue (no completion anywhere for
    `timeout_s`) raises (r7 advisor: a total-wall-clock deadline aborted
    any drain longer than 10 minutes even while progressing)."""
    import threading

    instance_id = instance_id or f"app-{uuid.uuid4().hex[:12]}"
    mine: list[int] = []
    deadline = time.time() + timeout_s
    last_done = -1
    while True:
        # ONE count-only stats pass per iteration serves both the
        # completion test and the idle-deadline reset — the previous
        # all_chunks_completed + chunk_queue_stats pair cost two O(chunks)
        # marker sweeps (full-object GETs on a store) per 0.2s poll
        # (r8 advisor).
        stats = chunk_queue_stats(state_dir, with_rows=False)
        if stats["total"] and stats["completed"] == stats["total"]:
            break
        done_now = stats["completed"]
        if done_now > last_done:
            last_done = done_now
            deadline = time.time() + timeout_s
        if time.time() > deadline:
            raise TimeoutError(
                f"chunk queue for {state_dir} idle (no chunk completed "
                f"anywhere) for {timeout_s}s: "
                f"{chunk_queue_stats(state_dir)}"
            )
        claim = claim_next_chunk(state_dir, instance_id, claim_ttl_s)
        if claim is None:
            time.sleep(poll_s)  # live peers own the rest — wait/retry
            continue
        beat_stop = beat_thread = None
        if heartbeat_every_s is not None:
            beat_stop = threading.Event()

            def beat(claim=claim, stop=beat_stop):
                while not stop.wait(heartbeat_every_s):
                    try:
                        claim.heartbeat()
                    except RuntimeError:
                        return  # claim taken over — complete() below loses
                        # the first-writer race, which is the contract

            beat_thread = threading.Thread(target=beat, daemon=True)
            beat_thread.start()
        try:
            rows = process_chunk(claim.chunk, claim)
        finally:
            if beat_stop is not None:
                beat_stop.set()
                beat_thread.join(timeout=2)
        claim.complete(rows_processed=int(rows or 0))
        mine.append(claim.index)
    return mine
