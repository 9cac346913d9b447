"""Migrate a pre-r11 versioned-state directory to the VersionedState
layout (r11 verdict item 3 — the remedy `VersionedState.latest_version`'s
legacy-layout refusal points at).

Pre-r11 layout (POSIX-only, one per state machine):

    state_dir/v{N:012d}/_SUCCESS          parquet success marker
    state_dir/v{N:012d}/_view_meta.json   meta sidecar (agg / top-k view)
    state_dir/v{N:012d}/_hh_meta.json     meta sidecar (heavy hitters)

a version was committed iff BOTH markers existed. Current layout
(streaming/versioned_state.py): the meta rides the pluggable
ClaimBackend FLAT under `state_dir/meta/v{N:012d}.json`, written
strictly after the parquet; `_SUCCESS` stays whatever Spark wrote.

Migration per version dir, crash-safe and idempotent:

  1. committed legacy version (_SUCCESS + sidecar): PUT the sidecar's
     JSON to `meta/v{N:012d}.json` FIRST (skipped if already present —
     a re-run after a crash), THEN delete the sidecar. A crash between
     the two leaves both markers — harmless, the re-run just deletes
     the sidecar. The version is never invisible mid-migration.
  2. TORN legacy version (sidecar without _SUCCESS): invisible pre-r11,
     must stay invisible — the sidecar is DELETED without publishing a
     meta (the new layout's refusal triggers on ANY in-dir sidecar, so
     leaving it would keep the state dir unreadable). The orphan data
     dir is left for `VersionedState.gc_versions`' orphan sweep.

The legacy layout was POSIX-only by construction (the r10 defect this
replaced), so the DATA side is walked with os.*; only the new meta
markers go through the ClaimBackend mounted for the state dir
(`snapshot.claim_backend.mount`; PosixLinkBackend when none is).

CLI:  python tools/migrate_versioned_state.py STATE_DIR [STATE_DIR ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_pq_cdc_spark.streaming.versioned_state import (  # noqa: E402
    LEGACY_META_NAMES,
    VersionedState,
)


def migrate_state_dir(state_dir: str) -> dict:
    """Migrate one pre-r11 state dir in place. Returns a report dict:
    {"migrated": [versions], "torn_dropped": [versions],
    "already": [versions]} — `already` counts committed legacy versions
    whose meta/ marker existed before this run (re-run after a crash)."""
    vs = VersionedState(state_dir)
    report: dict = {"migrated": [], "torn_dropped": [], "already": []}
    if not os.path.isdir(state_dir):
        return report
    # DESCENDING version order — the crash-safety linchpin (review): the
    # TRUE latest version migrates first, so a crash mid-run leaves
    # latest_version() either returning that correct top (low versions
    # still legacy are below it and never read as `prev` without
    # latest_version(below=N) hitting the legacy refusal) or, if the
    # crash hit before the first commit, still raising the refusal.
    # Ascending order would fail OPEN: a migrated low version satisfies
    # latest_version() and the next fold silently resets onto stale
    # state — the exact class the refusal exists to prevent.
    for name in sorted(os.listdir(state_dir), reverse=True):
        if not (name.startswith("v") and name[1:].isdigit()):
            continue
        ver = int(name[1:])
        vdir = os.path.join(state_dir, name)
        sidecars = [
            p
            for legacy in LEGACY_META_NAMES
            if os.path.exists(p := os.path.join(vdir, legacy))
        ]
        if not sidecars:
            continue  # already-new or bare data dir: nothing legacy here
        committed = os.path.exists(os.path.join(vdir, "_SUCCESS"))
        if committed:
            if vs.backend.exists(vs._meta_path(ver)):
                report["already"].append(ver)
            else:
                with open(sidecars[0], encoding="utf-8") as f:
                    meta = json.load(f)
                # new meta FIRST (the commit marker), sidecar delete after:
                # a crash in between leaves both — the re-run lands in the
                # `already` arm and finishes the delete
                vs.commit(ver, meta)
                report["migrated"].append(ver)
        else:
            # torn pre-r11 write: invisible then, stays invisible now
            report["torn_dropped"].append(ver)
        for p in sidecars:
            os.remove(p)
    for k in report:
        report[k].sort()
    return report


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    for state_dir in argv:
        report = migrate_state_dir(state_dir)
        print(
            f"{state_dir}: migrated={report['migrated']} "
            f"already={report['already']} "
            f"torn_dropped={report['torn_dropped']}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
