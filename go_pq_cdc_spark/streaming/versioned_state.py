"""Shared versioned small-state layout for the streaming state machines
(aggregate view, top-k view, heavy hitters) — one implementation of the
idempotent-versioning discipline they previously triplicated over os.*.

Layout under `state_dir`:

    v{N:012d}/            parquet data for version N   (Spark's Hadoop FS)
    meta/v{N:012d}.json   commit marker + metadata     (ClaimBackend)

Media split: coordination objects — the meta markers that define which
versions EXIST — ride the `snapshot.claim_backend.ClaimBackend` mounted
for the state_dir (`backend_for`), so a state_dir on S3/GCS coordinates
through conditional requests with no POSIX anywhere; the parquet DATA
is written and read by Spark, so it is also listed and GC'd through
Spark's own Hadoop filesystem (`_hadoop_fs` and the two helpers below
it, shared with the aggregate view's staged deltas and the dedup index
probe), which resolves file://, s3a:// and gs:// with the session's
credentials. An unmounted local state_dir gets `PosixLinkBackend` and
keeps everything on the local filesystem. (The mirror's bucket dirs
are written by Python workers through pyarrow.fs and are listed and
deleted through that layer instead — `streaming.changelog_stream`.)

Commit protocol: the meta object is PUT strictly AFTER the version's
parquet write returns, and a version is committed IFF its meta exists.
A crash between data and meta leaves the version invisible — readers skip
it, and the retried batch recomputes v{N} from v{N-1} (which a retry
never modifies) and overwrites both. Metas live FLAT under `meta/` (not
inside the version dir) because object-store listings only see direct
children — `ClaimBackend.list_names` of one prefix enumerates committed
versions on every backend.

This replaces the pre-r11 POSIX-only commit gate (parquet _SUCCESS + an
in-dir meta sidecar, both probed via os.*), which silently pinned the
view/heavy-hitter state to local filesystems while the mirror they feed
from had long outgrown them (r10 verdict item 5).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..snapshot.claim_backend import backend_for


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _fs_list_names(spark: SparkSession, d: str) -> list[str]:
    """Child entry names directly under a data dir; [] when absent."""
    fs, jpath = _hadoop_fs(spark, d)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def _fs_delete(spark: SparkSession, d: str) -> None:
    fs, jpath = _hadoop_fs(spark, d)
    fs.delete(jpath, True)


# pre-r11 in-dir meta sidecars (one per state machine family) — their
# presence marks a legacy layout; `tools/migrate_versioned_state.py`
# moves them to meta/v{N:012d}.json
LEGACY_META_NAMES = ("_view_meta.json", "_hh_meta.json")


class VersionedState:
    """Versioned state rooted at `state_dir`, coordinated via the backend
    mounted for it."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        self.backend = backend_for(state_dir)

    # -- paths ----------------------------------------------------------
    def version_dir(self, version: int) -> str:
        """Parquet data dir for a version (Spark FS medium)."""
        return os.path.join(self.state_dir, f"v{version:012d}")

    def _meta_dir(self) -> str:
        return os.path.join(self.state_dir, "meta")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self._meta_dir(), f"v{version:012d}.json")

    # -- commit / read ---------------------------------------------------
    def latest_version(self, below: int | None = None) -> int | None:
        """Highest committed version, optionally restricted to versions
        < `below` (a retry must ignore its own torn previous write of the
        same version). Committed = meta object exists.

        Refuses to read a PRE-r11 state dir (metas inside the version
        dirs as `_view_meta.json`/`_hh_meta.json`): treating the old
        layout as "no committed versions" would silently fold the next
        batch into an EMPTY state — counts reset instead of accumulating
        — so the legacy layout raises with a migration hint instead."""
        best = None
        for name in self.backend.list_names(self._meta_dir()):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                ver = int(name[1:-5])
            except ValueError:
                continue
            if below is not None and ver >= below:
                continue
            if best is None or ver > best:
                best = ver
        if best is None:
            for name in self.backend.list_names(self.state_dir):
                if not (name.startswith("v") and name[1:].isdigit()):
                    continue
                for legacy in LEGACY_META_NAMES:
                    if self.backend.exists(
                        os.path.join(self.state_dir, name, legacy)
                    ):
                        raise RuntimeError(
                            f"{self.state_dir} holds a pre-r11 versioned-"
                            f"state layout ({name}/{legacy}); run "
                            "`python tools/migrate_versioned_state.py "
                            f"{self.state_dir}` to move each committed "
                            "version's meta to meta/v{N:012d}.json in "
                            "place, or rebuild the state"
                        )
        return best

    def check_not_shadowed(self, batch_id: int, what: str = "state") -> None:
        """Version numbers come from Spark's foreachBatch id, whose
        lifetime is the STREAMING CHECKPOINT's: deleting the checkpoint
        while keeping the state dir restarts batch ids at 0, and because
        readers pick the highest committed version, the restarted
        stream's folds would be silently shadowed by stale higher
        versions — and then GC'd, since the version GC keeps the newest.
        A committed version STRICTLY above this batch_id can never occur
        in a healthy stream (streaming replays only the last uncommitted
        batch, so a replay sees at most its OWN version committed) —
        fail the fold instead of writing an invisible one."""
        top = self.latest_version()
        if top is not None and top > batch_id:
            raise RuntimeError(
                f"{what} at {self.state_dir} already holds committed "
                f"version {top} > incoming batch_id {batch_id}: the "
                "streaming checkpoint restarted while the state dir "
                "survived — readers would shadow this fold with the "
                "stale version; rebuild the state or restore the "
                "matching checkpoint"
            )

    def read_meta(self, version: int) -> dict:
        doc, _etag = self.backend.read(self._meta_path(version))
        if doc is None:
            raise FileNotFoundError(
                f"no committed meta for version {version} under "
                f"{self.state_dir}"
            )
        return doc

    def commit(self, version: int, meta: dict) -> None:
        """Publish `version` — call strictly AFTER its parquet write
        returned. Unconditional put: version numbers are single-writer
        by construction (one stream, idempotent retries recompute the
        same bytes)."""
        self.backend.ensure_dir(self._meta_dir())
        self.backend.put(self._meta_path(version), meta)

    # -- GC ---------------------------------------------------------------
    def gc_versions(self, spark: SparkSession, keep: int = 2) -> None:
        """Drop committed versions older than the newest `keep` (>= 2:
        a retried batch recomputes v{N} FROM v{N-1}). Meta goes first —
        uncommitting the version — then the data dir; a crash in between
        leaves an invisible orphan dir that the next call sweeps (any
        un-meta'd data dir below the oldest kept version).

        Reader caveat (same class as the mirror's keep_epochs/VACUUM
        note): a reader holds the version it resolved via
        `latest_version` only as long as that version stays within the
        newest `keep`; a reader stalled across `keep` subsequent folds
        can lose its files mid-read. State here is kilobytes and folds
        are batch-cadence, so keep=2 leaves a full batch interval —
        raise `keep` if readers may lag further."""
        if keep < 2:
            raise ValueError(f"keep must be >= 2 (retries read N-1), got {keep}")
        versions = []
        for name in self.backend.list_names(self._meta_dir()):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    versions.append(int(name[1:-5]))
                except ValueError:
                    pass
        if not versions:
            return
        cutoff = sorted(versions)[-keep] if len(versions) >= keep else min(versions)
        for ver in versions:
            if ver < cutoff:
                self.backend.delete(self._meta_path(ver))
                _fs_delete(spark, self.version_dir(ver))
        # orphans: torn writes / crashed GCs left data dirs below the
        # cutoff with no meta (their meta was deleted first, or never
        # written) — sweep them too
        for name in _fs_list_names(spark, self.state_dir):
            if name.startswith("v") and name[1:].isdigit():
                if int(name[1:]) < cutoff:
                    _fs_delete(spark, self.version_dir(int(name[1:])))
