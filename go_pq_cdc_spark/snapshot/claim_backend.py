"""Atomic claim primitives behind the cooperative coordination files.

The chunk queue (`snapshot.chunk_queue`, the one snapshot-seed
coordinator) and the mirror's lock/manifest files coordinate N
independent applications through small JSON markers in a shared
state_dir. Their correctness rests on exactly three atomic primitives:

  * put-if-absent  — publish a claim/manifest/done marker only if nobody
                     else has (the reference's INSERT ... ON CONFLICT DO
                     NOTHING, worker.go:421-484's SKIP LOCKED claim row)
  * conditional swap — take over a stale claim / refresh a heartbeat
                     against the exact version last read (the reference's
                     UPDATE ... WHERE claimed_by = $me)
  * conditional delete — release a claim only while still its owner

On POSIX filesystems (local disk, NFS with proper link semantics) those
map to hard-link create, `os.replace`, and unlink — `PosixLinkBackend`,
the default, byte-compatible with the pre-r8 on-disk layout. At 100 TB
the state_dir is more likely an object store; S3 (since 2024) and GCS
expose the same three primitives as conditional requests:

  * PUT with `If-None-Match: *`      -> put-if-absent
  * PUT with `If-Match: <etag>`      -> conditional swap (true CAS —
                                        STRONGER than the POSIX arm's
                                        last-writer-wins replace)
  * DELETE with `If-Match: <etag>`   -> conditional delete

`ObjectStoreBackend` adapts any client exposing that conditional API
(boto3 `put_object(IfNoneMatch="*")` / `put_object(IfMatch=etag)`, GCS
`if_generation_match`); tests drive it against `FakeObjectStore`, an
in-memory implementation of the same contract with real precondition
failures, so claim/steal/complete races are exercised without a cloud
dependency.

Which backend coordinates a path is a deployment setting, chosen once
per state root like the reference's one Postgres connection (not passed
call by call): `mount(root, backend)` registers a backend for every path
under `root`, and the coordination code resolves its own directory with
`backend_for(path)`. An unmounted local path gets `PosixLinkBackend`; an
unmounted `scheme://` path raises, since POSIX calls on it would
silently create a local `s3a:` directory.

The POSIX arm has one documented weakening: `swap` ignores the etag
(rename is unconditional), so two processes passing the staleness check
together are last-writer-wins — acceptable because chunk work is
idempotent and completion markers are first-writer-wins (the same
stance as the reference's claimTimeout takeover). The object-store arm
does not share the weakening: a failed `If-Match` loses the race
cleanly.
"""

from __future__ import annotations

import json
import os
import threading
import uuid


class ClaimBackend:
    """Interface. Paths are POSIX-style strings relative to whatever root
    the backend was built with; `read` returns (doc, etag) where etag is
    an opaque token valid for `swap`/`delete` preconditions (None on
    backends without versioning)."""

    def ensure_dir(self, d: str) -> None:
        raise NotImplementedError

    def read(self, path: str) -> tuple[dict | None, object]:
        """(parsed JSON doc, etag). (None, None) when absent or torn."""
        raise NotImplementedError

    def put_if_absent(self, path: str, doc: dict) -> bool:
        raise NotImplementedError

    def put(self, path: str, doc: dict) -> None:
        """Unconditional atomic publish (last writer wins) — for
        single-writer-by-construction files like per-epoch manifest
        snapshots, written only under the merge lock."""
        raise NotImplementedError

    def swap(self, path: str, doc: dict, etag: object) -> bool:
        """Replace `path` with `doc` iff it still matches `etag` (where
        the backend can enforce it). True on success."""
        raise NotImplementedError

    def delete(self, path: str, etag: object = None) -> bool:
        """Remove `path` (iff it still matches `etag` where enforceable).
        True if removed, False if absent/precondition failed."""
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def list_names(self, d: str) -> list[str]:
        """Entry names (not paths) directly under `d`; [] when absent."""
        raise NotImplementedError


class PosixLinkBackend(ClaimBackend):
    """The default filesystem arm — hard-link create + rename (private
    tmp write, `os.link` publish: a peer can never observe a torn
    marker)."""

    def ensure_dir(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)

    def read(self, path: str) -> tuple[dict | None, object]:
        try:
            with open(path) as f:
                doc = json.load(f)
            return (doc if isinstance(doc, dict) else None), None
        except (FileNotFoundError, json.JSONDecodeError):
            return None, None

    def _write_tmp(self, path: str, doc: dict) -> str:
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        return tmp

    def put_if_absent(self, path: str, doc: dict) -> bool:
        tmp = self._write_tmp(path, doc)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass

    def put(self, path: str, doc: dict) -> None:
        os.replace(self._write_tmp(path, doc), path)

    def swap(self, path: str, doc: dict, etag: object) -> bool:
        # rename is unconditional: last-writer-wins inside the (rare)
        # double-takeover window — see module docstring
        os.replace(self._write_tmp(path, doc), path)
        return True

    def delete(self, path: str, etag: object = None) -> bool:
        try:
            os.remove(path)
            return True
        except FileNotFoundError:
            return False

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def list_names(self, d: str) -> list[str]:
        try:
            return os.listdir(d)
        except FileNotFoundError:
            return []


class ObjectStoreBackend(ClaimBackend):
    """Conditional-request arm for S3/GCS-style stores.

    `client` must expose (the boto3/GCS conditional surface, minimally):
      get(key) -> (bytes, etag) | None
      put(key, data: bytes, if_none_match: bool = False,
          if_match: etag | None = None) -> etag | None
          (None = precondition failed: key existed under if_none_match,
           or etag mismatch under if_match)
      delete(key, if_match: etag | None = None) -> bool
      list(prefix) -> list[str]          (full keys under prefix)
      head(key) -> etag | None           (OPTIONAL — existence probe
          without downloading the body, S3 HeadObject / GCS metadata
          get; `exists` falls back to a full get when absent)

    Keys are the POSIX-ish paths the queue composes; directories are
    virtual (ensure_dir is a no-op, list_names strips the prefix)."""

    def __init__(self, client):
        self.client = client

    def ensure_dir(self, d: str) -> None:
        pass  # object stores have no directories

    def read(self, path: str) -> tuple[dict | None, object]:
        got = self.client.get(path)
        if got is None:
            return None, None
        data, etag = got
        try:
            doc = json.loads(data)
        except (json.JSONDecodeError, UnicodeDecodeError):
            return None, etag  # torn/garbage object: etag still usable
        return (doc if isinstance(doc, dict) else None), etag

    def put_if_absent(self, path: str, doc: dict) -> bool:
        data = json.dumps(doc).encode()
        return self.client.put(path, data, if_none_match=True) is not None

    def put(self, path: str, doc: dict) -> None:
        self.client.put(path, json.dumps(doc).encode())

    def swap(self, path: str, doc: dict, etag: object) -> bool:
        data = json.dumps(doc).encode()
        if etag is None:
            # object vanished between read and swap (owner released):
            # treat as a fresh publish so the claim is not double-created
            return self.client.put(path, data, if_none_match=True) is not None
        return self.client.put(path, data, if_match=etag) is not None

    def delete(self, path: str, etag: object = None) -> bool:
        return self.client.delete(path, if_match=etag)

    def exists(self, path: str) -> bool:
        # HEAD when the client has it: a queue drain probes O(chunks) done
        # markers per poll — full-body GETs there are pure waste (r8
        # advisor); boto3 head_object / GCS blob.reload are the real calls
        head = getattr(self.client, "head", None)
        if head is not None:
            return head(path) is not None
        return self.client.get(path) is not None

    def list_names(self, d: str) -> list[str]:
        prefix = d.rstrip("/") + "/"
        return [
            k[len(prefix):]
            for k in self.client.list(prefix)
            if k.startswith(prefix) and "/" not in k[len(prefix):]
        ]


class FakeObjectStore:
    """In-memory object store with REAL conditional-request semantics —
    the test double for `ObjectStoreBackend` (no cloud dependency). Every
    mutation bumps a monotonically increasing etag; preconditions fail
    exactly as S3's If-None-Match/If-Match do. A `fail_preconditions`
    hook lets race tests force the loser's path deterministically."""

    def __init__(self):
        self.objects: dict[str, tuple[bytes, int]] = {}
        self._etag = 0
        # a conditional request is atomic on a real store
        self._lock = threading.Lock()

    def _next(self) -> int:
        self._etag += 1
        return self._etag

    def get(self, key):
        got = self.objects.get(key)
        return None if got is None else got

    def head(self, key):
        got = self.objects.get(key)
        return None if got is None else got[1]

    def put(self, key, data, if_none_match=False, if_match=None):
        with self._lock:
            cur = self.objects.get(key)
            if if_none_match and cur is not None:
                return None  # 412: key exists
            if if_match is not None and (cur is None or cur[1] != if_match):
                return None  # 412: etag mismatch
            etag = self._next()
            self.objects[key] = (data, etag)
            return etag

    def delete(self, key, if_match=None):
        with self._lock:
            cur = self.objects.get(key)
            if cur is None:
                return False
            if if_match is not None and cur[1] != if_match:
                return False
            del self.objects[key]
            return True

    def list(self, prefix):
        with self._lock:
            return sorted(k for k in self.objects if k.startswith(prefix))


DEFAULT_BACKEND = PosixLinkBackend()

_MOUNTS: dict[str, ClaimBackend] = {}


def root_key(path: str) -> str:
    """One spelling per state root: URIs (`s3a://b/state/`) lose their
    trailing slashes, local paths go through abspath."""
    if "://" in path:
        return path.rstrip("/")
    return os.path.abspath(path)


def mount(root: str, backend: ClaimBackend | None) -> None:
    """Coordinate every path under `root` through `backend` (None removes
    the mount)."""
    if backend is None:
        _MOUNTS.pop(root_key(root), None)
    else:
        _MOUNTS[root_key(root)] = backend


def backend_for(path: str) -> ClaimBackend:
    """The backend of the longest mounted root containing `path`, matched
    on whole path components (`/a/st` does not contain `/a/state`)."""
    key = root_key(path)
    hits = [
        (len(root), backend)
        for root, backend in tuple(_MOUNTS.items())
        if key == root or key.startswith(root.rstrip("/") + "/")
    ]
    if hits:
        return max(hits, key=lambda hit: hit[0])[1]
    if "://" in key:
        raise ValueError(
            f"no claim backend is mounted for {path!r}: call "
            "snapshot.claim_backend.mount(<root>, backend) first"
        )
    return DEFAULT_BACKEND
