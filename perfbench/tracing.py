"""Per-layer timing for the traced run (`--trace 1`).

Everything here wraps the calls the benchmark makes into each layer's
public functions; no program file is changed. `Tracer.install()` swaps
module attributes (`pgoutput.frames_to_committed_txns`,
`slot_keeper.write_envelope_segment`, `changelog_stream.merge_mirror_batch`)
for timed wrappers and `Tracer.restore()` puts them back. The untraced
run never calls either.
"""

from __future__ import annotations

import importlib
import json
import os
import threading
import time
from collections import defaultdict


def _manifest_buckets(state_dir: str) -> dict:
    try:
        with open(os.path.join(state_dir, "manifest.json")) as f:
            return json.load(f).get("buckets", {})
    except (OSError, ValueError):
        return {}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in files)
    return total


class Tracer:
    def __init__(self, run_dir: str):
        self.sums: dict[str, float] = defaultdict(float)  # seconds and counts
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.segments: list[tuple[float, int]] = []  # (durable wall s, end lsn)
        self.fetch_log = os.path.join(run_dir, "fetch.log")
        self._undo: list[tuple[object, str, object]] = []
        self._main = threading.main_thread()

    # -- module patches ------------------------------------------------------

    def _patch(self, owner, name: str, make):
        orig = getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def install(self) -> None:
        from go_pq_cdc_spark.sources import pgoutput, slot_keeper

        # the package re-exports a function under the submodule's name
        changelog_stream = importlib.import_module("go_pq_cdc_spark.streaming.changelog_stream")
        self._patch(pgoutput, "frames_to_committed_txns", self._wrap_decode)
        self._patch(slot_keeper, "write_envelope_segment", self._wrap_segment_write)
        self._patch(changelog_stream, "merge_mirror_batch", self._wrap_merge)

    def restore(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)

    # -- replication_client ----------------------------------------------------

    def frames(self, frames):
        """The `ReplicationConnection.frames()` iterator, timed per frame."""
        s = self.sums
        it = iter(frames)
        while True:
            t = time.perf_counter()
            try:
                f = next(it)
            except StopIteration:
                return
            finally:
                s["replication_client.wait_s"] += time.perf_counter() - t
            s["replication_client.frames"] += 1
            s["replication_client.bytes"] += len(getattr(f, "payload", b""))
            yield f

    def send_status(self, send):
        def counted(*a, **kw):
            self.sums["slot_keeper.acks"] += 1
            return send(*a, **kw)

        return counted

    # -- pgoutput ---------------------------------------------------------------

    def _wrap_decode(self, orig):
        s = self.sums

        def frames_to_committed_txns(frames, on_relation=None):
            it = orig(frames, on_relation=on_relation)
            while True:
                t = time.perf_counter()
                try:
                    end_lsn, rows = next(it)
                except StopIteration:
                    return
                finally:
                    s["pgoutput.next_s"] += time.perf_counter() - t
                s["pgoutput.txns"] += 1
                s["pgoutput.rows"] += len(rows)
                yield end_lsn, rows

        return frames_to_committed_txns

    # -- slot_keeper --------------------------------------------------------------

    def _wrap_segment_write(self, orig):
        from go_pq_cdc_spark.sources import lsn_stream

        def write_envelope_segment(wal_dir, start_lsn, rows, end_lsn=None):
            t = time.perf_counter()
            end = orig(wal_dir, start_lsn, rows, end_lsn=end_lsn)
            self.sums["slot_keeper.write_s"] += time.perf_counter() - t
            now = time.time()
            self.sums["slot_keeper.segments"] += 1
            self.sums["slot_keeper.segment_bytes"] += os.path.getsize(
                lsn_stream.segment_path(wal_dir, start_lsn, end)
            )
            self.segments.append((now, end))
            commits = {(r["lsn"], r["commit_ts_us"]) for r in rows}
            self.samples["capture_lag_ms"].extend(
                (now * 1e6 - ts) / 1e3 for _l, ts in commits if ts is not None
            )
            return end

        return write_envelope_segment

    # -- changelog_stream ---------------------------------------------------------

    def _wrap_merge(self, orig):
        def merge_mirror_batch(batch_df, state_dir, *a, **kw):
            seed = threading.current_thread() is self._main
            before = _manifest_buckets(state_dir)
            t = time.perf_counter()
            try:
                return orig(batch_df, state_dir, *a, **kw)
            finally:
                dt = time.perf_counter() - t
                after = _manifest_buckets(state_dir)
                touched = [b for b, rel in after.items() if before.get(b) != rel]
                if seed:
                    self.sums["snapshot.seed_merge_s"] += dt
                else:
                    self.sums["changelog_stream.merge_s"] += dt
                    self.sums["changelog_stream.merge_bytes"] += sum(
                        _dir_bytes(os.path.join(state_dir, after[b])) for b in touched
                    )
                    self.samples["buckets_touched"].append(len(touched))

        return merge_mirror_batch

    def lookup(self, fn):
        def timed(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.samples["lookup_s"].append(time.perf_counter() - t)

        return timed

    # -- snapshot -----------------------------------------------------------------

    def timed(self, key: str, fn):
        def call(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.sums[key] += time.perf_counter() - t

        return call

    def fetch(self, fetch):
        """The snapshot `fetch=` seam. It runs in executor processes, so
        each call appends its duration to a file the driver reads back."""
        log = self.fetch_log

        def timed_fetch(conn_args, snapshot_id, sql):
            t = time.perf_counter()
            rows = fetch(conn_args, snapshot_id, sql)
            with open(log, "a") as f:
                f.write(f"{time.perf_counter() - t}\n")
            return rows

        return timed_fetch

    def fetch_s(self) -> float:
        try:
            with open(self.fetch_log) as f:
                return sum(float(x) for x in f if x.strip())
        except OSError:
            return 0.0
